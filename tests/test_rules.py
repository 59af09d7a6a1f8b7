"""Rule-parse and rule-match semantics (SURVEY.md §7.4 hard part #1):
``、``/``&`` parsing with the asymmetric strip, all-keywords-present
matching, veto rules, empty-filter safety, multi-rule fan-out — all
through the driver-compiled matcher production runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_spark.functions import rules


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_parse_in_rules_or_and():
    groups, _ = rules.parse_rule_py("a&b、c", "")
    assert groups == [["a", "b"], ["c"]]


def test_parse_strip_asymmetry(spark):
    # OR-groups are stripped; AND-parts are not (kafka_s.py:243-245), so
    # the unstripped AND-part " b" needs its leading space in the title
    groups, _ = rules.parse_rule_py(" a & b 、 c ", "")
    assert groups == [["a ", " b"], ["c"]]
    assert _match(spark, "a  b", " a & b 、 c ")
    assert not _match(spark, "ab", " a & b ")
    assert _match(spark, "xc", " a & b 、 c ")


def test_parse_filter_rules_drops_empties():
    assert rules.parse_rule_py("a", "")[1] == []
    assert rules.parse_rule_py("a", "x、、y")[1] == ["x", "y"]


def _match(spark, title: str, in_rules: str, filter_rules: str = "") -> bool:
    return _one(spark, rules.compile_match(F.lit(title), in_rules, filter_rules))


def test_match_all_and_keywords_required(spark):
    assert _match(spark, "spark is fast", "spark&fast")
    assert not _match(spark, "spark is slow", "spark&fast")


def test_match_any_or_group_suffices(spark):
    assert _match(spark, "only streams here", "spark&fast、streams")


def test_match_is_substring_not_word(spark):
    # reference uses `kw in title` substring semantics (kafka_s.py:264)
    assert _match(spark, "sparkle", "spark")


def test_veto_blocks_match(spark):
    assert not _match(spark, "spark is fast but slow", "spark&fast", "slow")
    assert _match(spark, "spark is fast", "spark&fast", "slow")
    assert not _match(spark, "spark is fast, no error", "spark&fast", "slow、error")
    # the veto alone is q_anti_filter's predicate
    assert _one(spark, rules.veto(F.lit("it is slow"), "slow、error")) is False
    assert _one(spark, rules.veto(F.lit("it is fine"), "slow、error")) is True
    assert _one(spark, rules.veto(F.lit(None).cast("string"), "slow")) is None


def test_empty_filter_rules_never_veto(spark):
    # contains(title, '') is true — empties must be dropped pre-check
    assert _match(spark, "spark is fast", "spark&fast", "")
    assert _match(spark, "spark is fast", "spark&fast", "、、")
    assert _one(spark, rules.veto(F.lit("anything"), "")) is True


def test_multi_rule_fanout(spark):
    # one title matching N rules → N rows (kafka_s.py:240-249)
    from kafka_stream_spark.sources import dims

    titles = spark.createDataFrame(
        [(1, "the spark fast stream window"),
         (2, "the spark fast stream window table scan filter")],
        schema=["tid", "title"],
    )
    matched = rules.match(titles, "title", dims.rules_df(spark))
    got = {(row["tid"], row["rule_id"]) for row in matched.collect()}
    # rule 1 via both OR-groups still yields ONE row per title
    assert got == {(1, 1), (2, 1), (2, 2)}


def test_oracle_sql_twin_agrees(spark):
    import duckdb

    cases = [
        ("spark is fast", "spark&fast、stream", "slow"),
        ("spark is fast but slow", "spark&fast", "slow"),
        ("stream only", "spark&fast、stream", ""),
        ("nothing here", "spark&fast", ""),
        (" padded ", " pad 、x&y", ""),
        ("a  b", " a & b 、 c ", "、、"),
        ("spark is fast, no error", "spark&fast", "slow、error"),
        # an OR-group padded with non-ASCII whitespace: str.strip() strips
        # the tab and the ideographic space U+3000, so both engines match
        ("spark", "\u3000spark\t", ""),
    ]
    for title, inr, fr in cases:
        spark_v = _match(spark, title, inr, fr)
        sql = rules.duckdb_match_sql(f"'{title}'", f"'{inr}'", f"'{fr}'")
        duck_v = duckdb.sql(f"SELECT {sql}").fetchone()[0]
        assert spark_v == duck_v, (title, inr, fr)
    assert _match(spark, "spark", "\u3000spark\t")
