"""Join-type and analytic-function breadth (closing SURVEY.md §2.9's
absences as engine extensions): semi/anti/full-outer joins, AS-OF join,
range join, cube, lag/lead, exact percentiles, approx-distinct, and
CSV/JSON file-format sources.

The AS-OF and range joins are the two "operators Spark lacks" from the
brief, implemented as compositions of existing DataFrame ops (the
(a)-path): AS-OF as union+tag+last-ignoreNulls window (single shuffle,
no per-key lateral probe), range join as bucketed equi-join + residual
range filter (no cross product).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# semi / anti / outer
# ---------------------------------------------------------------------------


@query(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 400000)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having a >400k order. Semi joins ship no
    payload from the probe side — at scale the orders side reduces to a
    distinct-key exchange."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers who never placed a >400k order (the
    complement of q_semi_join)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_full_outer_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, agg.n_cust
    FROM nation n
    FULL OUTER JOIN (
      SELECT c_nationkey, count(*) AS n_cust FROM customer
      WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ) agg ON n.n_nationkey = agg.c_nationkey
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: nations × (rich-customer counts), keeping unmatched
    rows on both sides (nations with no rich customers → NULL count)."""
    n = load(spark, sf_dir, "nation")
    agg = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    return n.join(agg, n.n_nationkey == agg.c_nationkey, "full_outer").select(
        "n_nationkey", "n_name", "n_cust"
    )


# ---------------------------------------------------------------------------
# AS-OF join
# ---------------------------------------------------------------------------


@query(
    "q_asof_join",
    oracle="""
    WITH u AS (
      SELECT event_id, user_id, ts, value, event_type,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag_order
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER win AS last_view_ts,
             last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
               OVER win AS last_view_value
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag_order, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts, last_view_ts, last_view_value
    FROM w WHERE event_type = 'purchase'
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for every purchase, the latest view of the same user at
    or before the purchase time. Implemented as the scalable merge form —
    union both sides with a tag, one window pass propagating the last
    view via last(..., ignoreNulls) — a single shuffle on user_id instead
    of a per-row lateral probe or range cross-join. Ties at equal ts are
    broken deterministically (views sort before purchases, then event_id).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    u = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "event_type",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("tag_order"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag_order", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    w = u.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_view, F.col("ts")), ignorenulls=True)
        .over(win)
        .alias("last_view_ts"),
        F.last(F.when(is_view, F.col("value")), ignorenulls=True)
        .over(win)
        .alias("last_view_value"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_view_ts", "last_view_value"
    )


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------

#: inline time-range dim (maintenance windows over the events month)
RANGE_ROWS = [
    (1, "2024-01-02 00:00:00", "2024-01-03 12:00:00", "deploy-1"),
    (2, "2024-01-10 06:00:00", "2024-01-10 18:00:00", "incident-a"),
    (3, "2024-01-15 00:00:00", "2024-01-17 00:00:00", "freeze"),
    (4, "2024-01-25 20:00:00", "2024-01-26 04:00:00", "deploy-2"),
]


def _ranges_values_sql() -> str:
    rows = ", ".join(
        f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}', '{label}')"
        for i, s, e, label in RANGE_ROWS
    )
    return f"(VALUES {rows}) AS r(range_id, start_ts, end_ts, label)"


@query(
    "q_range_join",
    oracle=f"""
    SELECT r.range_id, r.label, count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN {_ranges_values_sql()}
      ON e.ts >= r.start_ts AND e.ts < r.end_ts
    GROUP BY r.range_id, r.label
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events ⋈ time intervals (ts ∈ [start, end)), as a
    bucketed equi-join — each range explodes into the days it covers,
    events bucket to their day, the join is a plain (broadcastable)
    equi-join on the day key and the BETWEEN residual filters inside the
    bucket. No nested-loop cross product: at 100 TB the fact side hits
    only the buckets that ranges actually cover."""
    e = load(spark, sf_dir, "events")
    r = local_frame(
        spark,
        RANGE_ROWS,
        "range_id long, start_ts string, end_ts string, label string",
    ).select(
        "range_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
        "label",
    )
    r_buckets = r.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.date_trunc("day", "start_ts"),
                F.date_trunc("day", F.col("end_ts") - F.expr("INTERVAL 1 microsecond")),
                F.expr("INTERVAL 1 day"),
            )
        ),
    )
    eb = e.withColumn("day", F.date_trunc("day", "ts"))
    joined = eb.join(F.broadcast(r_buckets), "day", "inner").filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return joined.groupBy("range_id", "label").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )


# ---------------------------------------------------------------------------
# cube / lag-lead / percentiles / approx distinct
# ---------------------------------------------------------------------------


@query(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@query(
    "q_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(value, 1) OVER w AS prev_value,
           lead(value, 1) OVER w AS next_value,
           round(value - coalesce(lag(value, 1) OVER w, 0), 2) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10b — lag/lead analytics with deterministic ordering."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value", 1).over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        prev.alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(prev, F.lit(0)), 2).alias("delta"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (both engines use
    the same interpolation). Spark's exact percentile buffers a count per
    DISTINCT value — cheap on low-cardinality measures like quantity;
    for high-cardinality doubles at scale use approx_percentile (t-digest
    sketch) instead of paying an O(distinct) buffer."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
    )


@query("q_approx_distinct")  # rows-only: HLL estimate is engine-specific
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 approximate form — approx_count_distinct (HyperLogLog++):
    single-pass, fixed memory; the 100 TB substitute for exact distinct
    (q_distinct_count is the exact, oracle-checked twin)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT event_type, round(sum(value), 2) AS sum_value, count(*) AS n,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-phase aggregation (operators.skew): groupBy
    (key, salt) partials then combine — hot keys spread over 16 reducers.
    The oracle is the plain one-phase groupBy: salting must be invisible
    in the result (sums rounded; shard combine order differs)."""
    from ..operators.skew import salted_agg

    e = load(spark, sf_dir, "events")
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={
            "sum_value": ("sum", "value"),
            "n": ("count", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        F.round(F.col("sum_value"), 2).alias("sum_value"),
        "n",
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# file-format sources (CSV / JSON)
# ---------------------------------------------------------------------------


def _roundtrip(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """events (integer/string columns — lossless in text formats) written
    to fmt and read back through the engine's source path, then
    aggregated. The oracle computes the same aggregate from the parquet,
    so the check proves the text-format source is lossless."""
    base = tempfile.mkdtemp(prefix=f"kss_{fmt}_")
    path = os.path.join(base, fmt)
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    writer = e.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true")
    back = getattr(reader.schema("event_id long, user_id long, event_type string"), fmt)(
        path
    )
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("uniq_users"),
        )
        .localCheckpoint(eager=True)  # materialize so the scratch dir can go
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


_SRC_ORACLE = """
    SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY event_type
"""


@query("q_csv_source", oracle=_SRC_ORACLE)
def q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip (the reference's only file format is a
    CSV sink, mysql_rules.py:85-90; the engine reads it back too)."""
    return _roundtrip(spark, sf_dir, "csv")


@query("q_json_source", oracle=_SRC_ORACLE)
def q_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round-trip with explicit schema."""
    return _roundtrip(spark, sf_dir, "json")


@query("q_orc_source", oracle=_SRC_ORACLE)
def q_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip — the third columnar-ecosystem format
    next to parquet (native scan) and the text formats; same lossless
    proof through the engine's own write→read path."""
    return _roundtrip(spark, sf_dir, "orc")


@query("q_xml_source", oracle=_SRC_ORACLE)
def q_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink round-trip (Spark 4 ships the XML data source
    natively): rows serialized as <row> elements and read back with the
    same explicit schema — the enterprise-feed ingest shape (SOAP
    exports, sitemap/feed files) next to CSV/JSON/ORC/text. Same
    lossless-aggregate proof as the other formats."""
    base = tempfile.mkdtemp(prefix="kss_xml_")
    path = os.path.join(base, "xml")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    e.write.mode("overwrite").format("xml").option("rowTag", "row").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("event_id long, user_id long, event_type string")
        .load(path)
    )
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("uniq_users"),
        )
        .localCheckpoint(eager=True)  # materialize so the scratch dir can go
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


@query("q_text_source", oracle=_SRC_ORACLE)
def q_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink round-trip: rows serialized to
    tab-delimited lines via the text format (one string column per
    line — the raw-log ingest path), read back as lines, and re-parsed
    with split(). The lossless-aggregate proof matches the other
    formats; this is the shape Kafka byte-payload or syslog ingestion
    takes before any schema is applied."""
    base = tempfile.mkdtemp(prefix="kss_text_")
    path = os.path.join(base, "text")
    e = load(spark, sf_dir, "events").select(
        F.concat_ws(
            "\t",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
        ).alias("value")
    )
    e.write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    back = lines.select(
        parts.getItem(0).cast("long").alias("event_id"),
        parts.getItem(1).cast("long").alias("user_id"),
        parts.getItem(2).alias("event_type"),
    )
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("uniq_users"),
        )
        .localCheckpoint(eager=True)  # materialize so the scratch dir can go
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


@query(
    "q_asof_tolerance",
    oracle="""
    WITH u AS (
      SELECT event_id, user_id, ts, value, event_type,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag_order
      FROM events WHERE event_type IN ('view', 'purchase')
    ), w AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER win AS last_view_ts,
             last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
               OVER win AS last_view_value
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag_order, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN last_view_ts >= ts - INTERVAL 1 HOUR
                THEN last_view_ts END AS matched_view_ts,
           CASE WHEN last_view_ts >= ts - INTERVAL 1 HOUR
                THEN last_view_value END AS matched_view_value,
           CAST(last_view_ts IS NOT NULL
                AND last_view_ts < ts - INTERVAL 1 HOUR AS BOOLEAN)
             AS stale_dropped
    FROM w WHERE event_type = 'purchase'
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with TOLERANCE (pandas merge_asof(tolerance=...) / kdb
    wj semantics): the latest same-user view at-or-before each purchase
    COUNTS ONLY within a 1-hour lookback — staler matches surface as
    NULL plus an audit flag instead of silently attributing a
    day-old view. Same single-shuffle merge form as q_asof_join; the
    tolerance is a post-window projection, so the plan cost is
    identical to the untolerated join."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    u = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "event_type",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("tag_order"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag_order", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    w = u.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_view, F.col("ts")), ignorenulls=True)
        .over(win)
        .alias("last_view_ts"),
        F.last(F.when(is_view, F.col("value")), ignorenulls=True)
        .over(win)
        .alias("last_view_value"),
    )
    in_tol = F.col("last_view_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return w.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.when(in_tol, F.col("last_view_ts")).alias("matched_view_ts"),
        F.when(in_tol, F.col("last_view_value")).alias("matched_view_value"),
        (F.col("last_view_ts").isNotNull() & ~in_tol).alias("stale_dropped"),
    )


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    ), ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             min(o_totalprice) OVER (
               ORDER BY o_orderdate DESC, o_totalprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_price_newer
      FROM pts
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderdate
    FROM ranked
    WHERE best_price_newer IS NULL OR o_totalprice < best_price_newer
    ORDER BY o_orderdate DESC
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): orders not dominated on
    (newer date, lower price) — the multi-objective shortlist
    operator from the skyline-query literature (Börzsönyi et al.).
    The classic quadratic dominance anti-join collapses to ONE sorted
    window for two dimensions: scan by date descending and keep a row
    iff its price beats the running minimum among strictly-newer rows
    (ties on date compare within the frame via the price sort key).
    At scale the sort is a range-partitioned shuffle; no self-join
    exists at any size."""
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_orderdate"), F.asc("o_totalprice")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        o.withColumn("best_price_newer", F.min("o_totalprice").over(w))
        .filter(
            F.col("best_price_newer").isNull()
            | (F.col("o_totalprice") < F.col("best_price_newer"))
        )
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderdate",
        )
        .orderBy(F.desc("o_orderdate"))
    )
