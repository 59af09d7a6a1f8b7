"""Reference-surface queries (SURVEY.md §2.1–2.7).

Each query key re-expresses one operator of the reference pipeline on the
driver testdata, with a DuckDB oracle on identical inputs. Plans are
declarative DataFrame programs — Catalyst owns pushdown/pruning/join
strategy; dimension sides are broadcast explicitly where the reference
used an in-memory dict (kafka_s.py:120-148).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import boards
from ..functions import decode, keys, rules
from ..sources import dims
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# §2.1 sources / scans
# ---------------------------------------------------------------------------


@query(
    "q_source_scan",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def q_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 batch analog — full scan of the event stream table
    (reference: kafka_s.py:68,149-161 consumes the whole topic)."""
    return load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query("q_dim_scan", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_dim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — dimension full scan (SELECT * FROM names dim, kafka_s.py:132-137)."""
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@query(
    "q_notnull_filter",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_type <> '' AND p_type IS NOT NULL
    """,
)
def q_notnull_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F5 — non-empty ∧ NOT NULL rules-scan predicate (kafka_s.py:292)."""
    p = load(spark, sf_dir, "part")
    return p.filter((F.col("p_type") != F.lit("")) & F.col("p_type").isNotNull()).select(
        "p_partkey", "p_name", "p_type"
    )


@query(
    "q_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 100
    """,
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — getMany(sql, num) limited fetch (mysql_pool.py:96-112); ordered
    by the unique key so the row set is deterministic."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.2 filters
# ---------------------------------------------------------------------------


@query(
    "q_insert_only_filter",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE props IS NOT NULL AND event_type <> 'error'
      AND json_extract_string(props, '$.k') IS NOT NULL
    """,
)
def q_insert_only_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+S2 — CDC envelope decode + insert-only filter. The reference
    BSON-decodes each message and drops `$set` update ops
    (kafka_s.py:157,170-174); the analog parses the JSON payload and drops
    the 'error' op-type. Malformed payloads become NULL and are filtered —
    the dead-letter fix for the commented-out try/except (kafka_s.py:156-161).
    """
    e = load(spark, sf_dir, "events")
    prop_k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.withColumn("prop_k", prop_k)
        .filter(
            F.col("props").isNotNull()
            & (F.col("event_type") != "error")
            & F.col("prop_k").isNotNull()
        )
        .select("event_id", "event_type", "prop_k")
    )


@query(
    "q_inlist_filter",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_regionkey IN (0, 2, 4)
    """,
)
def q_inlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — `constCode IN (3,4,5)` analog (kafka_s.py:113)."""
    return (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey").isin(0, 2, 4))
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "q_count_since",
    oracle="""
    SELECT count(event_id) AS cnt FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def q_count_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4+A1 — change-detector count since watermark ts (kafka_s.py:207-212)."""
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp")).agg(
        F.count("event_id").alias("cnt")
    )


# ---------------------------------------------------------------------------
# §2.3 projections / scalar functions
# ---------------------------------------------------------------------------


@query(
    "q_project_rename",
    oracle="""
    SELECT event_id AS msg_id, user_id AS cmp_code, event_type AS src_type,
           ts AS publish_ts, props AS src_url
    FROM events
    """,
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — field extraction + rename (kafka_s.py:177-187)."""
    return load(spark, sf_dir, "events").select(
        F.col("event_id").alias("msg_id"),
        F.col("user_id").alias("cmp_code"),
        F.col("event_type").alias("src_type"),
        F.col("ts").alias("publish_ts"),
        F.col("props").alias("src_url"),
    )


@query(
    "q_ts_format",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS pub_time FROM events
    """,
)
def q_ts_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — strftime('%Y-%m-%d %H:%M:%S') (kafka_s.py:181,562-563)."""
    return load(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("pub_time")
    )


@query(
    "q_surrogate_key",
    oracle="""
    SELECT doc_id,
           md5(concat_ws('||', coalesce(text, ''), coalesce(source, ''),
                         coalesce(CAST(doc_id AS VARCHAR), ''))) AS yqid
    FROM documents
    """,
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5 — deterministic surrogate key. Engine-native contract:
    md5(concat_ws('||', ...)) standing in for uuid3-with-dashes-stripped
    (kafka_s.py:460-468); same determinism class, oracle-checkable."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        keys.surrogate_key(F.col("text"), F.col("source"), F.col("doc_id")).alias("yqid"),
    )


@query(
    "q_concat_key",
    oracle="""
    SELECT event_id,
           concat_ws('##', CAST(user_id AS VARCHAR), event_type) AS level_key
    FROM events
    """,
)
def q_concat_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — '##'-joined category key (kafka_s.py:304,307,310)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id", keys.concat_key(F.col("user_id"), F.col("event_type")).alias("level_key")
    )


_IMP_BY_TYPE = {"purchase": 30, "signup": 10, "click": 8, "view": 5}


@query(
    "q_score_decode",
    oracle=f"""
    WITH scored AS (
      SELECT event_id,
             CASE WHEN value >= 300 THEN 1 WHEN value < 100 THEN -1 ELSE 0 END
               AS emo_score,
             CASE event_type WHEN 'purchase' THEN 30 WHEN 'signup' THEN 10
                             WHEN 'click' THEN 8 WHEN 'view' THEN 5 ELSE 3 END
               AS imp_score
      FROM events
    )
    SELECT event_id, emo_score, imp_score,
           {decode.decode_case_sql('emo_score', decode.EMO_LABELS)} AS emo_label,
           {decode.decode_case_sql('imp_score', decode.IMP_LABELS)} AS imp_label
    FROM scored
    """,
)
def q_score_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — dict decode score→label as a CASE chain (kafka_s.py:72-73,444-459)."""
    e = load(spark, sf_dir, "events")
    emo_score = (
        F.when(F.col("value") >= 300, 1).when(F.col("value") < 100, -1).otherwise(0)
    )
    imp_score = None
    for etype, imp in _IMP_BY_TYPE.items():
        cond = F.col("event_type") == etype
        imp_score = F.when(cond, imp) if imp_score is None else imp_score.when(cond, imp)
    imp_score = imp_score.otherwise(3)
    scored = e.select(
        "event_id", emo_score.alias("emo_score"), imp_score.alias("imp_score")
    )
    return scored.select(
        "event_id",
        "emo_score",
        "imp_score",
        decode.emo_label(F.col("emo_score")).alias("emo_label"),
        decode.imp_label(F.col("imp_score")).alias("imp_label"),
    )


@query("q_current_ts")  # rows-only: nondeterministic by nature (P3)
def q_current_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — processing-time stamps (create/modifyTime,
    kafka_s.py:210-211,562-563): current_timestamp() formatted the
    reference's way; no oracle because the value is wall-clock."""
    e = load(spark, sf_dir, "events").orderBy("event_id").limit(10)
    now = F.current_timestamp()
    return e.select(
        "event_id",
        F.date_format(now, "yyyy-MM-dd HH:mm:ss").alias("create_time"),
        F.date_format(now, "yyyy-MM-dd HH:mm:ss").alias("modify_time"),
    )


def _uuid3_oracle() -> str:
    from ..functions.md5_sql import uuid3_hex_sql

    return uuid3_hex_sql(
        "SELECT doc_id, source || ':' || lang || ':' || "
        "CAST(doc_id AS VARCHAR) AS nm FROM documents WHERE doc_id <= 100",
        ["doc_id"],
        "yqid_exact",
    )


@query("q_uuid3_key", oracle=_uuid3_oracle())
def q_uuid3_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 exact form — bit-for-bit reference keys via uuid3(NAMESPACE_DNS,
    s).replace('-','') (kafka_s.py:460-468), computed as pure Column
    expressions (md5 over namespace‖name + version/variant bit surgery) —
    codegen-safe, so even exact-compat keys cost no Python round trip.

    DuckDB's md5() is VARCHAR-only and the RFC 4122 namespace bytes are
    not valid UTF-8, so the oracle instead runs MD5 COMPILED TO SQL
    (functions/md5_sql: the key is ≤ 39 ASCII bytes ⇒ namespace ‖ name ‖
    padding is one 512-bit block ⇒ 64 unrolled rounds as CTEs) — the
    exact-key scheme sits under the full value-hash gate, not rows-only."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    name = F.concat_ws(
        ":", "source", "lang", F.col("doc_id").cast("string")
    )
    return d.select("doc_id", keys.uuid3_key(name).alias("yqid_exact"))


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------


@query(
    "q_name_lookup_join",
    oracle="""
    SELECT c_custkey, c_name AS short_name, n.n_name AS full_name
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_name_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast hash lookup replacing the in-memory names dict
    (kafka_s.py:120-148). LEFT join: a lookup miss yields NULL, fixing the
    reference's stale-carry-over hazard (SURVEY.md §1.4)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left").select(
        "c_custkey", F.col("c_name").alias("short_name"), F.col("n_name").alias("full_name")
    )


@query(
    "q_industry_join",
    oracle="""
    SELECT s_suppkey, s_name, n.n_name AS industry_name, r.r_name AS region_name
    FROM (SELECT * FROM supplier WHERE s_acctbal > 1000) s
    INNER JOIN (SELECT * FROM nation WHERE n_regionkey IN (0, 1, 2)) n
      ON s.s_nationkey = n.n_nationkey
    INNER JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_industry_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — derived-table inner equi-join with filters pushed into both
    sides (kafka_s.py:113-114). Expressed declaratively; Catalyst's
    PushDownPredicates reproduces the reference's hand-inlined pushdown."""
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 1000)
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey").isin(0, 1, 2))
    r = load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("industry_name"),
            F.col("r_name").alias("region_name"),
        )
    )


_RULE_MATCH_ORACLE = f"""
    SELECT doc_id, rule_id, category_code, category_name, sentiment, importance
    FROM ({boards.match_sql('documents', 'text')})
"""


@query("q_rule_match", oracle=_RULE_MATCH_ORACLE)
def q_rule_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+P11 — the reference's core operator: every title × every rule,
    match iff some OR-group's AND-keywords are all substrings and no
    filter keyword is (kafka_s.py:240-285). One row per (title, rule)
    match. Physical shape at scale: BroadcastNestedLoopJoin with the tiny
    rules side broadcast — the 100 TB fact side never shuffles, and the
    predicate is pure codegen (no UDF). ``rules.match`` is the board
    chain's rule join: its condition is driver-compiled from the
    collected rules dim, lambda-free (see functions/rules.py; pinned by
    tests/test_cold_session.py)."""
    d = load(spark, sf_dir, "documents")
    return rules.match(d, "text", dims.rules_df(spark)).select(
        "doc_id", "rule_id", "category_code", "category_name", "sentiment", "importance"
    )


@query(
    "q_anti_filter",
    oracle="""
    SELECT doc_id, text FROM documents d
    WHERE len(list_filter(
            list_filter(string_split('slow、error', '、'), kw -> kw <> ''),
            kw -> contains(d.text, kw))) = 0
    """,
)
def q_anti_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 veto half — filter-keyword anti-predicate (kafka_s.py:267-272)."""
    d = load(spark, sf_dir, "documents")
    return d.filter(rules.veto(F.col("text"), "slow、error")).select(
        "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@query(
    "q_pivot_levels",
    oracle="""
    SELECT user_id,
           max(CASE WHEN event_type = 'click' THEN value END) AS click_value,
           max(CASE WHEN event_type = 'view' THEN value END) AS view_value,
           max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def q_pivot_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — industry-level pivot (one row per constCode → 6 columns,
    kafka_s.py:298-310) as conditional aggregation. The max(CASE) form
    beats .pivot() at scale: single shuffle, no pivot-value discovery
    pass, and it stays deterministic (max, not first)."""
    e = load(spark, sf_dir, "events")

    def level(etype: str) -> F.Column:
        return F.max(F.when(F.col("event_type") == etype, F.col("value"))).alias(
            f"{etype}_value"
        )

    return e.groupBy("user_id").agg(level("click"), level("view"), level("purchase"))


@query(
    "q_pivot_wide",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 2)
             AS click_sum,
           round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 2)
             AS view_sum,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2)
             AS purchase_sum
    FROM events GROUP BY user_id
    """,
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 alt — the literal ``.pivot()`` API with an explicit value list
    (no discovery pass; one shuffle). q_pivot_levels is the max(CASE)
    twin; both compile to the same aggregate shape."""
    e = load(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2))
    )
    return p.select(
        "user_id",
        F.coalesce(F.col("click"), F.lit(0.0)).alias("click_sum"),
        F.coalesce(F.col("view"), F.lit(0.0)).alias("view_sum"),
        F.coalesce(F.col("purchase"), F.lit(0.0)).alias("purchase_sum"),
    )


@query(
    "q_pivot_dynamic",
    oracle="""
    SELECT user_id % 10 AS cohort,
           round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 2) AS click,
           round(coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0), 2) AS error,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2) AS purchase,
           round(coalesce(sum(CASE WHEN event_type = 'signup' THEN value END), 0), 2) AS signup,
           round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 2) AS view
    FROM events GROUP BY 1
    """,
)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 alt 2 — ``.pivot()`` WITHOUT a value list: Spark runs a
    distinct-discovery job on the pivot column first (capped by
    spark.sql.pivotMaxValues), then compiles the same conditional
    aggregate as the explicit form. Two jobs instead of one — fine for
    ad-hoc exploration, but at 100 TB pass the value list explicitly
    (q_pivot_wide) and skip the discovery scan."""
    e = load(spark, sf_dir, "events")
    p = (
        e.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type")
        .agg(F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2))
    )
    cols = [c for c in p.columns if c != "cohort"]
    return p.select(
        "cohort", *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in cols]
    )


# ---------------------------------------------------------------------------
# §2.6 dedup
# ---------------------------------------------------------------------------


@query(
    "q_dedup",
    oracle="""
    SELECT md5(concat_ws('||', coalesce(CAST(user_id AS VARCHAR), ''),
                         coalesce(event_type, ''))) AS only_id,
           min(event_id) AS event_id, count(*) AS dup_cnt
    FROM events GROUP BY 1
    """,
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — key-based dedup (Mongo onlyId dedup, kafka_s.py:621-629) as a
    deterministic groupBy(key).agg(min(...)) — dropDuplicates picks an
    arbitrary survivor, min() picks a stable one (and the oracle agrees)."""
    e = load(spark, sf_dir, "events")
    only_id = keys.surrogate_key(F.col("user_id"), F.col("event_type"))
    return (
        e.withColumn("only_id", only_id)
        .groupBy("only_id")
        .agg(F.min("event_id").alias("event_id"), F.count("*").alias("dup_cnt"))
    )
