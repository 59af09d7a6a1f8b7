"""Keyword-rule classification as driver-compiled Column predicates.

Re-expresses the reference's rule matcher (kafka_s.py:220-297,
mysql_yi/mysql_rules.py:26-64) with the exact parsing semantics it uses
(SURVEY.md §2.3 P11, §2.4 J3):

- ``in_rules`` splits on ``、`` into OR-groups; each OR-group is
  ``strip()``-ed, then split on ``&`` into AND-keywords. The AND parts are
  NOT re-stripped (kafka_s.py:243-245 strips only the OR-group) — we keep
  that asymmetry.
- a title matches a rule iff SOME OR-group has ALL its AND-keywords as
  substrings of the title (list-equality check at kafka_s.py:264 ==
  all-present), AND no non-empty filter keyword (split on ``、``) is a
  substring (kafka_s.py:267-272).
- one title that matches N rules produces N output rows
  (kafka_s.py:240-249) — in Spark that is an inner theta-join against the
  (broadcast) rules table, not a loop.

Why compiled: Spark 4.x mis-plans higher-order-function lambdas in a
JOIN condition in a fresh session — the lambda-variable exprIds collide
with a low stream-side exprId (text#1), and the conjunct is pushed into
a FilterExec over the broadcast side alone
([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND]; pinned by
tests/test_cold_session.py). So, as the reference does
(kafka_s.py:240-249), the tiny rules dim is collected driver-side once
and each rule's keywords are compiled into literal ``contains``
conjunctions: a lambda-free boolean tree, still pure whole-stage
codegen. At 100 TB, BroadcastNestedLoopJoin evaluates ~K literal
substring tests per fact row, and the fact side never shuffles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OR_SEP = "、"
AND_SEP = "&"

#: what ``str.strip()`` strips (every character with ``str.isspace``), as a
#: DuckDB string expression for ``trim(g, ...)``; DuckDB's one-argument
#: ``trim`` strips spaces only
_STRIP_CHARS_SQL = " || ".join(
    f"chr({c})" for c in range(0x110000) if chr(c).isspace()
)


def parse_rule_py(in_rules: str, filter_rules: str) -> tuple[list[list[str]], list[str]]:
    """``('a&b、c', 'x、、y')`` → ``([['a','b'], ['c']], ['x','y'])``.

    OR-groups are stripped; AND-parts deliberately are not (reference
    asymmetry, kafka_s.py:243-245). Empty filter keywords are dropped:
    ``contains(title, '')`` is true, so one would veto every row; the
    reference only consults a non-empty filter string
    (kafka_s.py:267-272)."""
    groups = [g.strip().split(AND_SEP) for g in in_rules.split(OR_SEP)]
    return groups, _vetoes(filter_rules)


def _vetoes(filter_rules: str) -> list[str]:
    return [kw for kw in filter_rules.split(OR_SEP) if kw != ""]


def _all(terms: list[Column]) -> Column:
    return reduce(lambda a, b: a & b, terms)


def veto(title: Column, filter_rules: str) -> Column:
    """The filter half (kafka_s.py:267-272): true iff no filter keyword
    of ``filter_rules`` is a substring of ``title``."""
    terms = [~title.contains(F.lit(kw)) for kw in _vetoes(filter_rules)]
    return _all(terms) if terms else F.lit(True)


def compile_match(title: Column, in_rules: str, filter_rules: str) -> Column:
    """Literal predicate: ``title`` matches the rule (in_rules, filter_rules)."""
    groups, vetoes = parse_rule_py(in_rules, filter_rules)
    included = reduce(
        lambda a, b: a | b,
        [_all([title.contains(F.lit(kw)) for kw in grp]) for grp in groups],
    )
    return included & veto(title, filter_rules) if vetoes else included


def compiled_join_cond(title: Column, rule_id: Column, rule_rows) -> Column:
    """Join condition for fact ⋈ rules as a CASE chain on the rule key.

    ``rule_rows`` is an iterable of (rule_id, in_rules, filter_rules)
    collected from the (tiny) rules dim. The CASE-on-primary-key shape
    (WHEN rule_id = k THEN <literal match for rule k>) evaluates ONLY
    the paired rule's keywords per (fact, rule) pair; an OR-of-branches
    form would evaluate every rule's keywords per pair (measured 1.6×
    slower at sf0.1). Lambda-free theta-join condition (J3)."""
    cond = None
    for rid, in_rules, filter_rules in rule_rows:
        match = compile_match(title, in_rules, filter_rules)
        cond = (
            F.when(rule_id == F.lit(rid), match)
            if cond is None
            else cond.when(rule_id == F.lit(rid), match)
        )
    return cond.otherwise(F.lit(False))


def match(d: DataFrame, title: str, r: DataFrame) -> DataFrame:
    """``d`` ⋈ broadcast rules dim ``r``: one row per (row of ``d``,
    rule its ``title`` column matches), with all of ``r``'s columns.

    The only place the rules dim is collected. Collecting at plan
    construction keeps the T2 refresh semantics of a file-backed ``r``:
    a streaming query collects at (re)start, exactly when the static
    side's file listing is captured anyway. The inline dim is a
    ``LocalRelation`` (``dims.local_frame``), so its collect runs no
    Spark job."""
    rule_rows = [
        (row.rule_id, row.in_rules, row.filter_rules)
        for row in r.select("rule_id", "in_rules", "filter_rules").collect()
    ]
    cond = compiled_join_cond(d[title], r["rule_id"], rule_rows)
    return d.join(F.broadcast(r), cond, "inner")


def duckdb_match_sql(title: str, in_rules: str, filter_rules: str) -> str:
    """DuckDB boolean expression of the same match, parsing the rule
    strings per row (list_filter lambdas; DuckDB has no join-condition
    lambda hazard). OR-groups are stripped of the same characters as
    ``parse_rule_py`` strips."""
    return f"""(
      len(list_filter(
            string_split({in_rules}, '、'),
            g -> len(list_filter(string_split(trim(g, {_STRIP_CHARS_SQL}), '&'),
                                 kw -> contains({title}, kw)))
                 = len(string_split(trim(g, {_STRIP_CHARS_SQL}), '&'))
      )) > 0
      AND len(list_filter(
            list_filter(string_split({filter_rules}, '、'), kw -> kw <> ''),
            kw -> contains({title}, kw)
      )) = 0
    )"""
