"""Round-4 batch S: warehouse-engineering operators (X401-X408).

The systems layer a production deployment of this engine leans on:
algebraic incremental aggregate maintenance (the batch identity behind
X39's streaming continuous rollup), interval-union coverage (the
integral X108's max-concurrency curve is the derivative of), a
NEAREST-direction as-of join completing X4/X190's backward family,
optimizer-style join-cardinality estimation, mutual-nearest-neighbor
matching, bitemporal (valid-time × knowledge-time) reconstruction over
X75's single-axis SCD2, a Wilson interval for honest small-n
proportions, and the sequence/generator function family pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X401 — incremental aggregate maintenance
# ---------------------------------------------------------------------------


@query(
    "q_incremental_agg",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS pri, count(*) AS n, sum(o_totalprice) AS s,
             sum(o_totalprice * o_totalprice) AS ss,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), delta AS (
      SELECT o_orderpriority AS pri, count(*) AS n, sum(o_totalprice) AS s,
             sum(o_totalprice * o_totalprice) AS ss,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY 1
    ), merged AS (
      SELECT coalesce(b.pri, d.pri) AS pri,
             coalesce(b.n, 0) + coalesce(d.n, 0) AS n,
             coalesce(b.s, 0) + coalesce(d.s, 0) AS s,
             coalesce(b.ss, 0) + coalesce(d.ss, 0) AS ss,
             least(coalesce(b.mn, 1e18), coalesce(d.mn, 1e18)) AS mn,
             greatest(coalesce(b.mx, -1e18), coalesce(d.mx, -1e18)) AS mx
      FROM base b FULL OUTER JOIN delta d ON b.pri = d.pri
    ), full_recompute AS (
      SELECT o_orderpriority AS pri, count(*) AS n, sum(o_totalprice) AS s
      FROM orders GROUP BY 1
    )
    SELECT m.pri AS priority, CAST(m.n AS BIGINT) AS n_orders,
           round(m.s, 2) AS total, round(m.s / m.n, 4) AS mean,
           round(sqrt(m.ss / m.n - (m.s / m.n) * (m.s / m.n)), 4) AS sd_pop,
           round(m.mn, 2) AS min_price, round(m.mx, 2) AS max_price,
           m.n = f.n AND round(m.s, 2) = round(f.s, 2) AS matches_full
    FROM merged m JOIN full_recompute f ON m.pri = f.pri
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X401 — incremental maintenance of algebraic aggregates: the base
    period's partial state (n, Σ, Σ², min, max per priority) MERGED
    with a delta batch's partials — never rescanning the base — then
    cross-checked against a full recompute (matches_full pins the
    algebra). This is the batch identity that makes X39's streaming
    continuous rollup and every partial-aggregate pushdown correct:
    count/sum/sumsq/min/max are closed under merge. Two grouped scans
    (in production the base state is a stored table; here it is derived
    so the oracle can verify both paths), one k-row merge join."""
    o = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderpriority").alias("pri")).agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partials(o.filter(F.col("o_orderdate") < cut))
    delta = partials(o.filter(F.col("o_orderdate") >= cut))
    b = base.select(
        F.col("pri"),
        *[F.col(c).alias(f"b_{c}") for c in ("n", "s", "ss", "mn", "mx")],
    )
    d = delta.select(
        F.col("pri"),
        *[F.col(c).alias(f"d_{c}") for c in ("n", "s", "ss", "mn", "mx")],
    )
    merged = b.join(d, "pri", "full").select(
        "pri",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n"),
        (F.coalesce("b_s", F.lit(0.0)) + F.coalesce("d_s", F.lit(0.0))).alias("s"),
        (F.coalesce("b_ss", F.lit(0.0)) + F.coalesce("d_ss", F.lit(0.0))).alias("ss"),
        F.least(
            F.coalesce("b_mn", F.lit(1e18)), F.coalesce("d_mn", F.lit(1e18))
        ).alias("mn"),
        F.greatest(
            F.coalesce("b_mx", F.lit(-1e18)), F.coalesce("d_mx", F.lit(-1e18))
        ).alias("mx"),
    )
    full = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count("*").alias("fn"), F.sum("o_totalprice").alias("fs")
    )
    mean = F.col("s") / F.col("n")
    return merged.join(full, "pri").select(
        F.col("pri").alias("priority"),
        F.col("n").cast("long").alias("n_orders"),
        F.round("s", 2).alias("total"),
        F.round(mean, 4).alias("mean"),
        F.round(F.sqrt(F.col("ss") / F.col("n") - mean * mean), 4).alias(
            "sd_pop"
        ),
        F.round("mn", 2).alias("min_price"),
        F.round("mx", 2).alias("max_price"),
        (
            (F.col("n") == F.col("fn"))
            & (F.round("s", 2) == F.round("fs", 2))
        ).alias("matches_full"),
    )


# ---------------------------------------------------------------------------
# X402 — interval-union coverage
# ---------------------------------------------------------------------------


@query(
    "q_interval_coverage",
    oracle="""
    WITH spans AS (
      SELECT o.o_custkey % 25 AS band,
             CAST(o.o_orderdate AS DATE) AS s,
             CAST(l.dep AS DATE) AS e
      FROM orders o
      JOIN (SELECT l_orderkey, max(l_shipdate) AS dep
            FROM lineitem GROUP BY l_orderkey) l
        ON l.l_orderkey = o.o_orderkey
    ), ordered AS (
      SELECT band, s, e,
             max(e) OVER (PARTITION BY band ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM spans
    ), isl AS (
      SELECT band, s, e,
             CASE WHEN prev_max IS NULL OR s > prev_max
                  THEN 1 ELSE 0 END AS new_island
      FROM ordered
    ), grp AS (
      SELECT band, s, e,
             sum(new_island) OVER (PARTITION BY band ORDER BY s, e) AS g
      FROM isl
    ), islands AS (
      SELECT band, g, min(s) AS is_, max(e) AS ie FROM grp
      GROUP BY band, g
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(date_diff('day', is_, ie) + 1) AS BIGINT)
             AS covered_days,
           CAST(date_diff('day', min(is_), max(ie)) + 1 AS BIGINT)
             AS span_days,
           round(sum(date_diff('day', is_, ie) + 1) * 1.0
                 / (date_diff('day', min(is_), max(ie)) + 1), 6)
             AS coverage_frac
    FROM islands GROUP BY band
    """,
)
def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X402 — interval-union coverage per customer band: merge the
    overlapping [order, last-ship] intervals (running-max islands —
    an island starts when its start exceeds every prior end) and
    report covered days, horizon, and coverage fraction — the INTEGRAL
    of X108's concurrency curve, and the uptime/SLA arithmetic in its
    batch form. One join to build spans, then windows over per-band
    interval endpoints only."""
    o = load(spark, sf_dir, "orders")
    dep = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("dep"))
    )
    spans = o.join(dep, o.o_orderkey == dep.l_orderkey).select(
        (F.col("o_custkey") % 25).alias("band"),
        F.to_date("o_orderdate").alias("s"),
        F.to_date("dep").alias("e"),
    )
    w = (
        Window.partitionBy("band")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = spans.withColumn("prev_max", F.max("e").over(w))
    isl = ordered.withColumn(
        "new_island",
        F.when(
            F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
        ).otherwise(0),
    )
    wg = Window.partitionBy("band").orderBy("s", "e")
    grp = isl.withColumn("g", F.sum("new_island").over(wg))
    islands = grp.groupBy("band", "g").agg(
        F.min("s").alias("is_"), F.max("e").alias("ie")
    )
    cov = F.sum(F.datediff("ie", "is_") + 1)
    span = F.datediff(F.max("ie"), F.min("is_")) + 1
    return islands.groupBy("band").agg(
        F.count("*").cast("long").alias("n_islands"),
        cov.cast("long").alias("covered_days"),
        span.cast("long").alias("span_days"),
        F.round(cov * 1.0 / span, 6).alias("coverage_frac"),
    ).select(
        F.col("band").cast("long").alias("band"),
        "n_islands",
        "covered_days",
        "span_days",
        "coverage_frac",
    )


# ---------------------------------------------------------------------------
# X403 — nearest-direction as-of join
# ---------------------------------------------------------------------------


@query(
    "q_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('error', 'purchase')
    ), tagged AS (
      SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_purchase,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase
      FROM ev
    ), err AS (
      SELECT user_id, ts,
             epoch(ts) - epoch(prev_purchase) AS back_s,
             epoch(next_purchase) - epoch(ts) AS fwd_s
      FROM tagged WHERE event_type = 'error'
    ), nearest AS (
      SELECT user_id,
             CASE WHEN back_s IS NULL AND fwd_s IS NULL THEN NULL
                  WHEN fwd_s IS NULL THEN back_s
                  WHEN back_s IS NULL THEN fwd_s
                  WHEN back_s <= fwd_s THEN back_s ELSE fwd_s END AS gap_s,
             CASE WHEN back_s IS NULL AND fwd_s IS NULL THEN NULL
                  WHEN fwd_s IS NULL THEN 1
                  WHEN back_s IS NULL THEN 0
                  WHEN back_s <= fwd_s THEN 1 ELSE 0 END AS used_backward
      FROM err
    )
    SELECT CAST(count(*) AS BIGINT) AS n_errors,
           CAST(count(gap_s) AS BIGINT) AS n_matched,
           round(avg(gap_s) / 60, 4) AS mean_gap_min,
           round(CAST(quantile_cont(gap_s, 0.5) AS DOUBLE) / 60, 4)
             AS median_gap_min,
           round(avg(used_backward), 6) AS frac_backward
    FROM nearest
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X403 — NEAREST-direction as-of join (pandas merge_asof
    direction='nearest', which X4's backward and X190's tolerance
    variants don't cover): for every error event, the closest purchase
    of the same user in either direction, resolved from one sorted
    pass per user (running max of past purchase times + running min of
    future ones — no join at all), ties to backward as pandas does.
    Reports gap percentiles and direction mix. The sort is per-user;
    nothing global touches raw events."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "purchase")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    pur_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.max(pur_ts).over(wb).alias("prev_purchase"),
        F.min(pur_ts).over(wf).alias("next_purchase"),
    )
    err = tagged.filter(F.col("event_type") == "error").select(
        (
            F.unix_micros("ts") / 1e6
            - F.unix_micros("prev_purchase") / 1e6
        ).alias("back_s"),
        (
            F.unix_micros("next_purchase") / 1e6
            - F.unix_micros("ts") / 1e6
        ).alias("fwd_s"),
    )
    gap = (
        F.when(F.col("back_s").isNull() & F.col("fwd_s").isNull(), None)
        .when(F.col("fwd_s").isNull(), F.col("back_s"))
        .when(F.col("back_s").isNull(), F.col("fwd_s"))
        .when(F.col("back_s") <= F.col("fwd_s"), F.col("back_s"))
        .otherwise(F.col("fwd_s"))
    )
    used_back = (
        F.when(F.col("back_s").isNull() & F.col("fwd_s").isNull(), None)
        .when(F.col("fwd_s").isNull(), 1)
        .when(F.col("back_s").isNull(), 0)
        .when(F.col("back_s") <= F.col("fwd_s"), 1)
        .otherwise(0)
    )
    nearest = err.select(gap.alias("gap_s"), used_back.alias("used_backward"))
    return nearest.agg(
        F.count("*").cast("long").alias("n_errors"),
        F.count("gap_s").cast("long").alias("n_matched"),
        F.round(F.avg("gap_s") / 60, 4).alias("mean_gap_min"),
        F.round(F.expr("percentile(gap_s, 0.5)") / 60, 4).alias(
            "median_gap_min"
        ),
        F.round(F.avg("used_backward"), 6).alias("frac_backward"),
    )


# ---------------------------------------------------------------------------
# X404 — sequence / generator function family
# ---------------------------------------------------------------------------


@query(
    "q_sequence_funcs",
    oracle="""
    WITH months AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-01',
                                    INTERVAL 1 MONTH)) AS m
    )
    SELECT CAST(m AS DATE) AS month_start,
           CAST(date_diff('day', CAST(m AS DATE),
                CAST(m AS DATE) + INTERVAL 1 MONTH) AS BIGINT)
             AS days_in_month,
           CAST(sum(date_diff('day', CAST(m AS DATE),
                CAST(m AS DATE) + INTERVAL 1 MONTH))
                OVER (ORDER BY m) AS BIGINT) AS cum_days,
           CAST(len(generate_series(1,
                date_diff('day', CAST(m AS DATE),
                          CAST(m AS DATE) + INTERVAL 1 MONTH)))
                AS BIGINT) AS seq_len
    FROM months
    """,
)
def q_sequence_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X404 — generator/sequence function family pin: a calendar spine
    built entirely from sequence() (no source table), per-month day
    counts via date arithmetic, a running total, and a nested
    sequence materialization — the idioms behind X65's gap-fill spine
    and X141's calendar rollup, pinned as first-class API surface.
    Everything runs on 12 generated rows."""
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("m")
    )
    nxt = F.add_months(F.col("m"), 1)
    days = F.datediff(nxt, F.col("m"))
    return months.select(
        F.col("m").alias("month_start"),
        days.cast("long").alias("days_in_month"),
        F.sum(days)
        .over(Window.orderBy("m"))
        .cast("long")
        .alias("cum_days"),
        F.size(F.sequence(F.lit(1), days)).cast("long").alias("seq_len"),
    )


# ---------------------------------------------------------------------------
# X405 — join cardinality estimation
# ---------------------------------------------------------------------------


@query(
    "q_join_size_estimate",
    oracle="""
    WITH stats AS (
      SELECT 'lineitem_x_orders' AS join_name,
             (SELECT count(*) FROM lineitem) AS na,
             (SELECT count(*) FROM orders) AS nb,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS da,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS db,
             (SELECT count(*) FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey) AS actual
      UNION ALL
      SELECT 'lineitem_x_part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM part),
             (SELECT count(DISTINCT l_partkey) FROM lineitem),
             (SELECT count(DISTINCT p_partkey) FROM part),
             (SELECT count(*) FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey)
    )
    SELECT join_name, CAST(na AS BIGINT) AS rows_a,
           CAST(nb AS BIGINT) AS rows_b,
           CAST(da AS BIGINT) AS ndv_a, CAST(db AS BIGINT) AS ndv_b,
           CAST(CAST(na AS DOUBLE) * nb / greatest(da, db) AS BIGINT)
             AS estimated_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           round(CAST(na AS DOUBLE) * nb / greatest(da, db) / actual, 6)
             AS est_over_actual
    FROM stats
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X405 — textbook join-cardinality estimation (|A|·|B| /
    max(ndv_a, ndv_b), the uniform-frequency assumption every
    System-R descendant starts from) next to the ACTUAL join size, for
    the two central joins of the schema — the observability query a
    plan debugger runs when AQE's estimates go wrong (X105's ANALYZE
    stats feed exactly this formula). Distinct counts are one
    combinable rollup per side; the actuals are the joins themselves."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")

    def row(name, a, b, ka, kb):
        sa = a.agg(
            F.count("*").alias("na"), F.countDistinct(ka).alias("da")
        )
        sb = b.agg(
            F.count("*").alias("nb"), F.countDistinct(kb).alias("db")
        )
        actual = a.join(b, a[ka] == b[kb]).agg(
            F.count("*").alias("actual")
        )
        est = (
            F.col("na").cast("double")
            * F.col("nb")
            / F.greatest("da", "db")
        )
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_name"),
                F.col("na").cast("long").alias("rows_a"),
                F.col("nb").cast("long").alias("rows_b"),
                F.col("da").cast("long").alias("ndv_a"),
                F.col("db").cast("long").alias("ndv_b"),
                est.cast("long").alias("estimated_rows"),
                F.col("actual").cast("long").alias("actual_rows"),
                F.round(est / F.col("actual"), 6).alias("est_over_actual"),
            )
        )

    return row(
        "lineitem_x_orders", li, o, "l_orderkey", "o_orderkey"
    ).unionByName(row("lineitem_x_part", li, p, "l_partkey", "p_partkey"))


# ---------------------------------------------------------------------------
# X406 — mutual nearest neighbors
# ---------------------------------------------------------------------------


@query(
    "q_mutual_nn",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             round({vectors.cosine_sql('a.embedding', 'b.embedding')}, 6)
               AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), best AS (
      SELECT u, v, sim FROM (
        SELECT u, v, sim, row_number() OVER
          (PARTITION BY u ORDER BY sim DESC, v) AS rn
        FROM pairs) WHERE rn = 1
    )
    SELECT CAST(x.u AS BIGINT) AS u, CAST(x.v AS BIGINT) AS v, x.sim
    FROM best x JOIN best y ON x.u = y.v AND x.v = y.u AND x.u < x.v
    """,
)
def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X406 — mutual nearest neighbors in embedding space: pairs where
    each vector is the other's cosine top-1 (ties cut on the rounded
    similarity, then vec_id) — the reciprocity filter entity-resolution
    and cross-lingual alignment pipelines apply on top of X3's top-k
    (one-directional best matches are mostly hubs; mutual ones are
    matches). This correctness-grade spelling is the exact all-pairs
    twin; at scale the candidate pairs come from X30's IVF probe and
    the mutual filter is the same self-join on the best-match table."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("u") != F.col("v"))
        .select(
            "u",
            "v",
            F.round(
                vectors.cosine("ea", "eb"), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("sim").desc(), "v")
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("u", "v", "sim")
        .localCheckpoint(eager=True)
    )
    y = best.select(
        F.col("u").alias("yu"), F.col("v").alias("yv")
    )
    return (
        best.join(
            y, (best.u == y.yv) & (best.v == y.yu) & (best.u < best.v)
        )
        .select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            "sim",
        )
    )


# ---------------------------------------------------------------------------
# X407 — bitemporal reconstruction
# ---------------------------------------------------------------------------


@query(
    "q_bitemporal",
    oracle="""
    WITH facts AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS valid_from,
             CAST(o_orderdate AS DATE) + INTERVAL 3 DAY AS known_from,
             o_totalprice
      FROM orders
    ), grid AS (
      SELECT unnest(['1995-06-30', '1996-06-30']) AS v,
             unnest(['1995-06-30', '1995-07-03']) AS k0
    ), axes AS (
      SELECT CAST(g1.v AS DATE) AS valid_asof,
             CAST(g2.k0 AS DATE) AS known_asof
      FROM (SELECT DISTINCT v FROM grid) g1
      CROSS JOIN (SELECT DISTINCT k0 FROM grid) g2
    )
    SELECT a.valid_asof, a.known_asof,
           CAST(count(CASE WHEN f.valid_from <= a.valid_asof
                            AND f.known_from <= a.known_asof
                           THEN 1 END) AS BIGINT) AS n_known,
           CAST(count(CASE WHEN f.valid_from <= a.valid_asof
                           THEN 1 END) AS BIGINT) AS n_true,
           CAST(count(CASE WHEN f.valid_from <= a.valid_asof
                            AND f.known_from > a.known_asof
                           THEN 1 END) AS BIGINT) AS n_late_arriving,
           round(sum(CASE WHEN f.valid_from <= a.valid_asof
                           AND f.known_from <= a.known_asof
                          THEN f.o_totalprice ELSE 0 END), 2)
             AS known_total
    FROM facts f CROSS JOIN axes a
    GROUP BY a.valid_asof, a.known_asof
    """,
)
def q_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X407 — bitemporal reconstruction: orders carry a VALID time
    (order date) and a KNOWLEDGE time (entered 3 days later — the
    synthetic ingest lag); for each (valid-asof, known-asof) grid
    point, the count/total the warehouse WOULD have reported then vs
    the eventually-true figure, and the late-arriving gap between
    them. The two-axis generalization of X75's SCD2 (one axis) and the
    report-restatement question behind X106's snapshot diff. One scan
    against a 4-row broadcast grid."""
    facts = load(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("valid_from"),
        F.date_add(F.to_date("o_orderdate"), 3).alias("known_from"),
        "o_totalprice",
    )
    vs = local_frame(
        spark, [("1995-06-30",), ("1996-06-30",)], "v string"
    ).select(F.col("v").cast("date").alias("valid_asof"))
    ks = local_frame(
        spark, [("1995-06-30",), ("1995-07-03",)], "k0 string"
    ).select(F.col("k0").cast("date").alias("known_asof"))
    axes = vs.crossJoin(ks)
    j = facts.crossJoin(F.broadcast(axes))
    valid = F.col("valid_from") <= F.col("valid_asof")
    known = valid & (F.col("known_from") <= F.col("known_asof"))
    late = valid & (F.col("known_from") > F.col("known_asof"))
    return j.groupBy("valid_asof", "known_asof").agg(
        F.count(F.when(known, 1)).cast("long").alias("n_known"),
        F.count(F.when(valid, 1)).cast("long").alias("n_true"),
        F.count(F.when(late, 1)).cast("long").alias("n_late_arriving"),
        F.round(
            F.sum(F.when(known, F.col("o_totalprice")).otherwise(0.0)), 2
        ).alias("known_total"),
    )


# ---------------------------------------------------------------------------
# X408 — Wilson score interval
# ---------------------------------------------------------------------------


@query(
    "q_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT event_type, count(*) AS n,
             avg(CASE WHEN value > 20 THEN 1.0 ELSE 0 END) AS p
      FROM events GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(p, 6) AS p_hat,
           round((p + 1.96 * 1.96 / (2 * n)
                  - 1.96 * sqrt(p * (1 - p) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo,
           round((p + 1.96 * 1.96 / (2 * n)
                  + 1.96 * sqrt(p * (1 - p) / n
                                + 1.96 * 1.96 / (4.0 * n * n)))
                 / (1 + 1.96 * 1.96 / n), 6) AS wilson_hi
    FROM s
    """,
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X408 — Wilson score interval for the high-value share per event
    type: the 95% CI that stays inside [0,1] and behaves at small n /
    extreme p where the Wald interval (X359's CI style) collapses —
    the interval ranking systems use for 'sort by lower bound'.
    One grouped fold; identical closed-form arithmetic both engines."""
    s = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg((F.col("value") > 20).cast("double")).alias("p"),
        )
    )
    z2 = 1.96 * 1.96
    center = F.col("p") + z2 / (2 * F.col("n"))
    spread = 1.96 * F.sqrt(
        F.col("p") * (1 - F.col("p")) / F.col("n")
        + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("p", 6).alias("p_hat"),
        F.round((center - spread) / denom, 6).alias("wilson_lo"),
        F.round((center + spread) / denom, 6).alias("wilson_hi"),
    )
