"""Expected board-pipeline output, computed apart from the program.

The rule semantics are re-derived here in plain Python from the
reference's description (kafka_s.py:220-297 as SURVEY.md §2.3 states it),
not imported from ``kafka_stream_spark.functions``:

- ``in_rules`` splits on ``、`` into OR-groups; each OR-group is stripped
  and split on ``&`` into AND-parts, which are NOT stripped again;
- a title matches when some OR-group has every AND-part as a substring
  and no non-empty ``filter_rules`` keyword (split on ``、``) occurs;
- the site name falls back to ``''`` for a code missing from the sites dim;
- ``yqid = md5(title||url||publish_date)`` and
  ``only_id = md5(yqid||site_name||category_code)``.

The dims themselves (rule rows, site rows) are the program's input data
and are read from ``kafka_stream_spark.sources.dims`` by the caller.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

#: score → label maps of the reference decode dicts (kafka_s.py:72-73)
EMO = {1: "正向", -1: "负向", 0: "中性"}
IMP = {30: "高", 10: "中", 8: "中", 5: "低", 3: "低"}

#: the columns the board checks compare, in fingerprint order
KEY_COLS = (
    "yqid",
    "only_id",
    "rule_id",
    "category_code",
    "level_key",
    "emo_label",
    "imp_label",
    "site_name",
    "cmp_code",
)


#: how a NULL field enters a row hash (on both sides)
NULL_MARK = "\u2205"


def matches(title: str, in_rules: str, filter_rules: str) -> bool:
    groups = [g.strip().split("&") for g in in_rules.split("、")]
    vetoes = [kw for kw in filter_rules.split("、") if kw != ""]
    return any(all(kw in title for kw in g) for g in groups) and not any(
        kw in title for kw in vetoes
    )


def md5(*parts: str) -> str:
    return hashlib.md5("||".join(parts).encode("utf-8")).hexdigest()


def expected_rows(records: Iterable, rules: list[tuple], sites: list[tuple]) -> dict[str, tuple]:
    """``only_id`` → the KEY_COLS row for every (insert, matching rule).

    ``records`` carry ``title, url, publish_date, st_code``; an exact
    replay yields the same ``only_id`` and so collapses here as the
    stream's dedup must collapse it.
    """
    site_of = dict(sites)
    out: dict[str, tuple] = {}
    for r in records:
        site = site_of.get(r.st_code, "")
        yqid = md5(r.title, r.url, r.publish_date)
        for rid, in_rules, filter_rules, cat, _name, emo, imp in rules:
            if not matches(r.title, in_rules, filter_rules):
                continue
            only_id = md5(yqid, site, str(cat))
            out[only_id] = (
                yqid, only_id, str(rid), str(cat), f"{cat}##{rid}",
                EMO.get(emo), IMP.get(imp), site, r.st_code,
            )
    return out


def row_hash(row: Iterable) -> int:
    """The per-row term of :func:`fingerprint`: the first 15 hex digits of
    md5 over the ``|``-joined fields, a NULL field spelled ``NULL_MARK``.
    The Spark side computes the same term with
    ``conv(substring(md5(concat_ws('|', ...)), 1, 15), 16, 10)``."""
    s = "|".join(NULL_MARK if v is None else str(v) for v in row)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def fingerprint(rows: Iterable[Iterable]) -> tuple[int, int]:
    """Order-insensitive multiset fingerprint: (row count, sum of row hashes)."""
    n = total = 0
    for row in rows:
        n += 1
        total += row_hash(row)
    return n, total
