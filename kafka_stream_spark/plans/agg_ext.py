"""Aggregate-function breadth beyond q_stats_agg: argument-ordered
aggregates (max_by/min_by), ordered string aggregation (LISTAGG), median +
deterministic mode, and the SQL-standard linear-regression family.

The reference aggregates exactly once (COUNT, kafka_s.py:207-212); these
close the remaining standard-warehouse aggregate surface. All are single
partial-aggregate shuffles (map-side combine) — the same plan shape at
100 TB, just more partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query


@query(
    "q_maxby",
    oracle="""
    SELECT event_type,
           max_by(value, event_id) AS v_at_max_id,
           min_by(value, event_id) AS v_at_min_id,
           max_by(user_id, event_id) AS u_at_max_id,
           max(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def q_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (SQL:2023 argument-ordered aggregates): the value of
    one column at the extremum of another, without a self-join or window.
    Ordered by ``event_id`` — unique, so the result is deterministic in
    both engines (ties under max_by are engine-defined; never order by a
    non-unique column when hash-matching)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.max_by("value", "event_id").alias("v_at_max_id"),
        F.min_by("value", "event_id").alias("v_at_min_id"),
        F.max_by("user_id", "event_id").alias("u_at_max_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "q_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(*) AS n_nations
    FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with explicit WITHIN-GROUP ordering: collect a
    group's values into one delimited string. Spark-side this is
    sort_array(collect_list(...)) → array_join — the collect is a normal
    partial aggregate (map-side combine), the sort is per-group local.
    Only sane for bounded groups (here ≤25 nations/region); unbounded
    groups at 100 TB want the explode/top-k form instead."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        r.join(F.broadcast(n), r.r_regionkey == n.n_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


@query(
    "q_median_mode",
    oracle="""
    WITH freq AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    best AS (
      SELECT l_returnflag, l_quantity, c,
             max(c) OVER (PARTITION BY l_returnflag) AS cmax
      FROM freq
    )
    SELECT m.l_returnflag, m.med_qty, b.mode_qty
    FROM (SELECT l_returnflag, round(median(l_quantity), 4) AS med_qty
          FROM lineitem GROUP BY l_returnflag) m
    JOIN (SELECT l_returnflag, min(l_quantity) AS mode_qty
          FROM best WHERE c = cmax GROUP BY l_returnflag) b
    USING (l_returnflag)
    """,
)
def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (interpolated, = percentile_cont 0.5 in both engines) plus a
    DETERMINISTIC mode: the built-in ``mode()`` breaks ties
    engine-arbitrarily, so the engine derives it as "smallest value among
    the most frequent" — two aggregates and a window, fully portable.
    Plan: median is one shuffle on the group key; the mode branch reuses
    the same key so AQE coalesces to the same exchange."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty")
    )
    freq = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag")
    mode = (
        freq.withColumn("cmax", F.max("c").over(w))
        .filter(F.col("c") == F.col("cmax"))
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("mode_qty"))
    )
    return med.join(mode, "l_returnflag")


@query(
    "q_bitwise_agg",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS b_and, bit_or(user_id) AS b_or,
           bit_xor(user_id) AS b_xor,
           count(CASE WHEN user_id & 1 = 1 THEN 1 END) AS n_odd
    FROM events GROUP BY event_type
    """,
)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor) plus a masked
    count — flag-register rollups over integer columns. Algebraic and
    commutative → full map-side combine; the shuffle carries one long
    per group per aggregate."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("user_id").alias("b_and"),
        F.bit_or("user_id").alias("b_or"),
        F.bit_xor("user_id").alias("b_xor"),
        F.count(F.when(F.col("user_id").bitwiseAND(1) == 1, 1)).alias("n_odd"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           count(CASE WHEN json_extract_string(props, '$.missing')
                      IS NULL THEN 1 END) AS n_no_missing
    FROM events GROUP BY event_type
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction: ``get_json_object`` path queries
    over the events' JSON props payload (the engine's analog of the
    reference's BSON envelope fields, kafka_s.py:157,170-174), with a
    missing-path probe. Extraction is a codegen'd JVM expression — the
    JSON never reaches Python. At 100 TB the parse cost dominates, so
    hot paths should be promoted to top-level parquet columns at ingest;
    this query is the ad-hoc-exploration form."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(
            F.when(F.get_json_object("props", "$.missing").isNull(), 1)
        ).alias("n_no_missing"),
    )


@query(
    "q_regr_agg",
    oracle="""
    SELECT event_type,
           regr_count(value, CAST(user_id AS DOUBLE)) AS n,
           round(regr_slope(value, CAST(user_id AS DOUBLE)), 6) AS slope,
           round(regr_intercept(value, CAST(user_id AS DOUBLE)), 6)
             AS intercept,
           round(regr_r2(value, CAST(user_id AS DOUBLE)), 6) AS r2,
           round(regr_avgx(value, CAST(user_id AS DOUBLE)), 6) AS avgx,
           round(regr_avgy(value, CAST(user_id AS DOUBLE)), 6) AS avgy
    FROM events GROUP BY event_type
    """,
)
def q_regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard linear-regression aggregates (regr_slope/intercept/
    r2/count/avgx/avgy): a least-squares fit per group in ONE distributed
    pass — each is an algebraic aggregate (sums of x, y, xy, x², y²), so
    map-side combine applies and the shuffle carries six doubles per
    group regardless of input size."""
    e = load(spark, sf_dir, "events")
    y, x = F.col("value"), F.col("user_id").cast("double")
    return e.groupBy("event_type").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avgx"),
        F.round(F.regr_avgy(y, x), 6).alias("avgy"),
    )


@query("q_approx_percentile")  # rows-only: GK-sketch ranks are engine-specific
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch
    (``approx_percentile``) — the scale path q_percentiles' docstring
    points to: O(accuracy) state per group instead of O(distinct values),
    mergeable across partitions, rank error ≤ n/accuracy. Rows-only in
    the gate (sketch internals differ per engine); the companion exact
    query IS hash-matched, and the bench runs this form."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("ap95"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("ap99"),
    )


@query(
    "q_quantile_sketch",
    oracle="""
    WITH c AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             l_extendedprice FROM lineitem
    ),
    st AS (SELECT min(c) AS mn, max(c) AS mx, count(*) AS n FROM c),
    hist AS (
      SELECT ((c.c - st.mn) * 128) // (st.mx - st.mn + 1) AS b,
             count(*) AS cnt
      FROM c, st GROUP BY 1
    ),
    cum AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b) AS cum FROM hist),
    qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
    tgt AS (
      SELECT q, greatest(CAST(ceil(q * st.n) AS BIGINT), 1) AS target,
             st.mn, st.mx FROM qs, st
    ),
    pick AS (
      SELECT t.q, t.target, t.mn, t.mx, c.b, c.cnt, c.cum,
             row_number() OVER (PARTITION BY t.q ORDER BY c.b) AS rn
      FROM tgt t JOIN cum c ON c.cum >= t.target
    ),
    est AS (
      SELECT q,
             round((mn + (b + (target - (cum - cnt)) * 1.0 / cnt)
                    * (mx - mn + 1) / 128.0) / 100.0, 6) AS est
      FROM pick WHERE rn = 1
    ),
    exacts AS (
      SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS e50,
             round(quantile_cont(l_extendedprice, 0.9), 6) AS e90,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS e99
      FROM lineitem
    ),
    ex AS (
      SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q,
             unnest([e50, e90, e99]) AS exact FROM exacts
    )
    SELECT est.q, est.est, ex.exact,
           round(abs(est.est - ex.exact), 6) AS abs_err
    FROM est JOIN ex ON est.q = ex.q
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171 — PORTABLE approximate quantiles: a 128-bucket equi-width
    histogram sketch with linear interpolation inside the crossing
    bucket, reported next to the exact percentile it estimates (the
    calibration pattern of q_minhash_est/q_ann_recall). Unlike the
    GK sketch behind q_approx_percentile (engine-specific internals ⇒
    rows-only), this estimator is pure arithmetic, so the DuckDB twin
    reproduces it bit-for-bit and the VALUE-HASH gate covers an
    approximate-quantile path end to end.

    Determinism: bucket assignment runs on integer cents with integer
    division — no float ULP at bucket edges; the only float math is the
    final interpolation, written as the identical expression on both
    engines. Scale shape: one min/max/count pass reduced to a broadcast
    row, one combinable 128-ary histogram shuffle (the sketch is
    mergeable — union-by-bucket-sum, how a 1000-executor cluster or a
    streaming rollup would maintain it), and driver-free estimation
    over the 128-row cumulative table."""
    from ..session import default_parallelism

    li = load(spark, sf_dir, "lineitem")
    # fan out the single-split scan: the min/max pass and the 128-ary
    # histogram pass both fold the full fact table (guide §2.6)
    c = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
        "l_extendedprice",
    ).repartition(default_parallelism())
    st = c.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx"), F.count("*").alias("n")
    )
    hist = (
        c.crossJoin(F.broadcast(st))
        .select(
            F.expr("(c - mn) * 128 DIV (mx - mn + 1)").alias("b"),
        )
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow))
    )
    qs = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "q double")
    tgt = qs.crossJoin(F.broadcast(st)).select(
        "q",
        F.greatest(F.ceil(F.col("q") * F.col("n")).cast("long"), F.lit(1))
        .alias("target"),
        "mn",
        "mx",
    )
    pick = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("target"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q").orderBy("b")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    est = pick.select(
        "q",
        F.round(
            (
                F.col("mn")
                + (
                    F.col("b")
                    + (F.col("target") - (F.col("cum") - F.col("cnt")))
                    * F.lit(1.0)
                    / F.col("cnt")
                )
                * (F.col("mx") - F.col("mn") + 1)
                / F.lit(128.0)
            )
            / F.lit(100.0),
            6,
        ).alias("est"),
    )
    # one-pass exact percentiles: the array form shares a single sort
    # state across all three quantiles (3 scalar percentile() aggs cost
    # ~3 full passes — measured 5.5s vs 2.3s at sf0.1)
    exacts = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.5, 0.9, 0.99))"
        ).alias("pcts")
    ).select(
        F.round(F.element_at("pcts", 1), 6).alias("e50"),
        F.round(F.element_at("pcts", 2), 6).alias("e90"),
        F.round(F.element_at("pcts", 3), 6).alias("e99"),
    )
    ex = exacts.select(
        F.explode(
            F.map_from_arrays(
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                F.array("e50", "e90", "e99"),
            )
        ).alias("q", "exact")
    )
    return est.join(ex, "q").select(
        "q",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"),
    )


#: count-min sketch geometry: 4 hash rows × 1024 buckets
_CMS_D, _CMS_W = 4, 1024


@query(
    "q_count_min",
    oracle=f"""
    WITH h AS (SELECT event_type,
                      {hashing.token_hash_sql('event_type')} AS hh
               FROM events),
    rows_p(rid, a, b) AS (VALUES {", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(hashing.MINHASH_PARAMS[:4])
    )}),
    cells AS (
      SELECT rid,
             (((a * (hh % {hashing.MERSENNE_P})) + b)
              % {hashing.MERSENNE_P}) % {_CMS_W} AS bucket
      FROM h CROSS JOIN rows_p),
    counters AS (
      SELECT rid, bucket, count(*) AS c FROM cells GROUP BY rid, bucket),
    keys AS (
      SELECT event_type, any_value(hh) AS hh, count(*) AS exact_count
      FROM h GROUP BY event_type),
    probes AS (
      SELECT k.event_type, k.exact_count, r.rid,
             (((r.a * (k.hh % {hashing.MERSENNE_P})) + r.b)
              % {hashing.MERSENNE_P}) % {_CMS_W} AS bucket
      FROM keys k CROSS JOIN rows_p r)
    SELECT p.event_type,
           min(c.c) AS cms_count,
           any_value(p.exact_count) AS exact_count,
           min(c.c) - any_value(p.exact_count) AS overcount
    FROM probes p JOIN counters c
      ON c.rid = p.rid AND c.bucket = p.bucket
    GROUP BY p.event_type
    """,
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built from RELATIONAL ops with the engine's
    portable hash family (functions.hashing) instead of an opaque
    engine-specific sketch: counters are a groupBy over (row, bucket)
    cells — which makes the sketch mergeable across partitions, files,
    and days by plain addition — and a point query is a min over the
    key's d cells. Because both engines hash identically, the whole
    sketch (collisions included) is oracle-checked exactly, unlike the
    HLL/GK built-ins (q_approx_distinct / q_approx_percentile, rows-only).

    Scale notes: the counter table is d×w rows REGARDLESS of corpus size
    (here 4×1024); the build is one partial-agg shuffle of bounded
    cardinality, and overcount ≤ εN with ε = e/w holds by the usual CMS
    bound."""
    e = load(spark, sf_dir, "events")
    h = e.select(
        "event_type", hashing.token_hash(F.col("event_type")).alias("hh")
    )
    cells = h.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rid"),
                        (
                            hashing.perm_hash(F.col("hh"), a, b) % _CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(hashing.MINHASH_PARAMS[:_CMS_D])
                ]
            )
        ).alias("cell")
    ).select("cell.rid", "cell.bucket")
    counters = cells.groupBy("rid", "bucket").agg(F.count("*").alias("c"))
    keys = h.groupBy("event_type").agg(
        F.any_value("hh").alias("hh"), F.count("*").alias("exact_count")
    )
    probes = keys.select(
        "event_type",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rid"),
                        (
                            hashing.perm_hash(F.col("hh"), a, b) % _CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(hashing.MINHASH_PARAMS[:_CMS_D])
                ]
            )
        ).alias("cell"),
    ).select("event_type", "exact_count", "cell.rid", "cell.bucket")
    return (
        probes.join(F.broadcast(counters), ["rid", "bucket"])
        .groupBy("event_type")
        .agg(
            F.min("c").alias("cms_count"),
            F.any_value("exact_count").alias("exact_count"),
            (F.min("c") - F.any_value("exact_count")).alias("overcount"),
        )
    )


#: portable-HLL geometry: 256 registers (8-bit bucket index)
_HLL_M = 256


@query(
    "q_hll_portable",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             {hashing.token_hash_sql('CAST(user_id AS VARCHAR)')} AS hh
      FROM events),
    parts AS (
      SELECT event_type, hh % {_HLL_M} AS bucket,
             53 - length(bin(hh // {_HLL_M})) AS rank
      FROM h),
    regs AS (
      SELECT event_type, bucket, max(rank) AS m_j
      FROM parts GROUP BY event_type, bucket),
    est AS (
      SELECT event_type,
             count(*) AS npres,
             sum(pow(2.0, -m_j)) AS s
      FROM regs GROUP BY event_type),
    scored AS (
      SELECT event_type,
             (0.7213 / (1 + 1.079 / {_HLL_M}.0)) * {_HLL_M} * {_HLL_M}
               / (s + ({_HLL_M} - npres)) AS raw,
             {_HLL_M} - npres AS v
      FROM est),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type)
    SELECT s.event_type,
           round(CASE WHEN s.raw <= 2.5 * {_HLL_M} AND s.v > 0
                      THEN {_HLL_M} * ln({_HLL_M} * 1.0 / s.v)
                      ELSE s.raw END, 4) AS hll_estimate,
           e.exact_distinct
    FROM scored s JOIN ex e ON s.event_type = e.event_type
    """,
)
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from scratch as relational ops over the portable hash
    (Flajolet et al. 2007, incl. the small-range linear-counting
    correction): registers are a groupBy max over (key, bucket) — like
    the count-min counters (q_count_min) they merge by relational max,
    so per-file/per-day sketches union for free. rank = 53 -
    length(bin(h DIV 256)) uses integer/string ops only (both engines'
    ``bin`` drops leading zeros identically), so even the float
    estimator consumes bit-identical registers and the whole estimate
    hash-matches the oracle — the portable twin of the engine-specific
    q_approx_distinct.

    Scale notes: 256 registers per key regardless of corpus size; one
    partial-agg shuffle; the exact-distinct comparison column is the
    expensive side, not the sketch."""
    e = load(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        hashing.token_hash(F.col("user_id").cast("string")).alias("hh"),
    )
    parts = h.select(
        "event_type",
        (F.col("hh") % _HLL_M).alias("bucket"),
        (F.lit(53) - F.length(F.bin(F.expr(f"hh DIV {_HLL_M}")))).alias("rank"),
    )
    regs = parts.groupBy("event_type", "bucket").agg(F.max("rank").alias("m_j"))
    est = regs.groupBy("event_type").agg(
        F.count("*").alias("npres"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("s"),
    )
    alpha = 0.7213 / (1 + 1.079 / float(_HLL_M))
    raw = (
        F.lit(alpha)
        * _HLL_M
        * _HLL_M
        / (F.col("s") + (F.lit(_HLL_M) - F.col("npres")))
    )
    v = F.lit(_HLL_M) - F.col("npres")
    scored = est.select(
        "event_type", raw.alias("raw"), v.alias("v")
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    estimate = F.when(
        (F.col("raw") <= 2.5 * _HLL_M) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(_HLL_M) * 1.0 / F.col("v")),
    ).otherwise(F.col("raw"))
    return scored.join(exact, "event_type").select(
        "event_type",
        F.round(estimate, 4).alias("hll_estimate"),
        "exact_distinct",
    )


#: portable bloom geometry: 4096 bits, 3 hash probes
_BF_M, _BF_K = 4096, 3


@query(
    "q_bloom_portable",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_custkey,
             {hashing.token_hash_sql('CAST(o_custkey AS VARCHAR)')} AS hh
      FROM orders WHERE o_orderstatus = 'F'),
    kp(kid, a, b) AS (VALUES {", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(hashing.MINHASH_PARAMS[4:7])
    )}),
    bits AS (
      SELECT DISTINCT
             (((kp.a * (build.hh % {hashing.MERSENNE_P})) + kp.b)
              % {hashing.MERSENNE_P}) % {_BF_M} AS bitpos
      FROM build CROSS JOIN kp),
    probe AS (
      SELECT c_custkey,
             {hashing.token_hash_sql('CAST(c_custkey AS VARCHAR)')} AS hh
      FROM customer),
    checks AS (
      SELECT p.c_custkey,
             count(bits.bitpos) AS n_set
      FROM probe p CROSS JOIN kp
      LEFT JOIN bits ON bits.bitpos =
        (((kp.a * (p.hh % {hashing.MERSENNE_P})) + kp.b)
         % {hashing.MERSENNE_P}) % {_BF_M}
      GROUP BY p.c_custkey),
    exact AS (SELECT DISTINCT o_custkey FROM orders
              WHERE o_orderstatus = 'F')
    SELECT (SELECT count(*) FROM probe) AS n_probed,
           (SELECT count(*) FROM exact) AS n_members,
           CAST(sum(CASE WHEN n_set = {_BF_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN n_set = {_BF_K} THEN 1 ELSE 0 END)
                - (SELECT count(*) FROM exact) AS BIGINT) AS n_false_pos
    FROM checks
    """,
)
def q_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter from scratch as relational ops (Bloom 1970): the
    build side's distinct keys set k=3 bit positions in an m=4096-bit
    space; a probe key passes iff all its positions are set. The bitmap
    is a DISTINCT over ≤m ints — shippable to every executor when the
    exact key set is NOT broadcastable, which is the semi-join
    pre-filter move at 100 TB (cf. the engine-native runtime version
    plan-asserted in tests/test_scale_ops.py; this is its explicit,
    engine-portable form). Both engines hash identically, so pass/fail
    per key — false positives included — hash-matches the oracle.

    No false negatives is structural (members set their own bits), so
    n_pass = n_members + false-positive non-members and the reported
    n_false_pos is exact; its expectation follows the usual
    (1 - e^(-kn/m))^k bound."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    build = o.select("o_custkey").distinct().select(
        hashing.token_hash(F.col("o_custkey").cast("string")).alias("hh")
    )
    kp = hashing.MINHASH_PARAMS[4 : 4 + _BF_K]
    bits = (
        build.select(
            F.explode(
                F.array(
                    *[
                        (hashing.perm_hash(F.col("hh"), a, b) % _BF_M).alias(
                            f"p{i}"
                        )
                        for i, (a, b) in enumerate(kp)
                    ]
                )
            ).alias("bitpos")
        )
        .distinct()
    )
    probe = load(spark, sf_dir, "customer").select(
        "c_custkey",
        hashing.token_hash(F.col("c_custkey").cast("string")).alias("hh"),
    )
    probed = probe.select(
        "c_custkey",
        F.posexplode(
            F.array(
                *[
                    (hashing.perm_hash(F.col("hh"), a, b) % _BF_M)
                    for a, b in kp
                ]
            )
        ).alias("kid", "bitpos"),
    )
    checks = (
        probed.join(F.broadcast(bits.withColumn("set1", F.lit(1))), "bitpos", "left")
        .groupBy("c_custkey")
        .agg(F.count("set1").alias("n_set"))
    )
    n_probed = probe.agg(F.count("*").alias("n_probed"))
    n_members = (
        o.select("o_custkey").distinct().agg(F.count("*").alias("n_members"))
    )
    passed = checks.agg(
        F.sum((F.col("n_set") == _BF_K).cast("long")).alias("n_pass")
    )
    return (
        n_probed.crossJoin(n_members)
        .crossJoin(passed)
        .select(
            "n_probed",
            "n_members",
            "n_pass",
            (F.col("n_pass") - F.col("n_members")).alias("n_false_pos"),
        )
    )


@query(
    "q_hll_intersect",
    oracle=f"""
    WITH members AS (
      SELECT 'A' AS s, user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT 'B', user_id FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'U', user_id FROM events
      WHERE event_type IN ('click', 'purchase')
    ), h AS (
      SELECT s, {hashing.token_hash_sql("CAST(user_id AS VARCHAR)")} AS hh
      FROM members
    ), parts AS (
      SELECT s, hh % {{m}} AS bucket,
             53 - length(bin(hh // {{m}})) AS rank
      FROM h
    ), regs AS (
      SELECT s, bucket, max(rank) AS m_j FROM parts GROUP BY 1, 2
    ), est AS (
      SELECT s, count(*) AS npres, sum(pow(2.0, -m_j)) AS sm FROM regs
      GROUP BY s
    ), scored AS (
      SELECT s,
             (0.7213 / (1 + 1.079 / {{m}}.0)) * {{m}} * {{m}}
               / (sm + ({{m}} - npres)) AS raw,
             {{m}} - npres AS v
      FROM est
    ), sizes AS (
      SELECT s, CASE WHEN raw <= 2.5 * {{m}} AND v > 0
                     THEN {{m}} * ln({{m}} * 1.0 / v) ELSE raw END AS n
      FROM scored
    ), wide AS (
      SELECT max(CASE WHEN s = 'A' THEN n END) AS na,
             max(CASE WHEN s = 'B' THEN n END) AS nb,
             max(CASE WHEN s = 'U' THEN n END) AS nu
      FROM sizes
    )
    SELECT round(na, 4) AS est_a, round(nb, 4) AS est_b,
           round(na + nb - nu, 4) AS est_intersection,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase'))
             AS exact_intersection
    FROM wide
    """.replace("{m}", str(_HLL_M)),
)
def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: |A∩B| estimated by inclusion-exclusion over
    three portable HLLs (clickers, purchasers, their union — the
    union sketch is just the SAME register pipeline over the unioned
    rows, because HLL registers merge by max). This is how overlap
    questions ("how many users do both?") get answered at 100 TB
    without a distinct-pair shuffle; the exact INTERSECT runs
    alongside for calibration. One register pipeline keyed by set
    label; everything after the partial agg is a 3×256-row table."""
    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select(
        F.lit("A").alias("s"), "user_id"
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.lit("B").alias("s"), "user_id"
    )
    u = e.filter(F.col("event_type").isin("click", "purchase")).select(
        F.lit("U").alias("s"), "user_id"
    )
    members = a.union(b).union(u)
    h = members.select(
        "s", hashing.token_hash(F.col("user_id").cast("string")).alias("hh")
    )
    parts = h.select(
        "s",
        (F.col("hh") % _HLL_M).alias("bucket"),
        (F.lit(53) - F.length(F.bin(F.expr(f"hh DIV {_HLL_M}")))).alias(
            "rank"
        ),
    )
    regs = parts.groupBy("s", "bucket").agg(F.max("rank").alias("m_j"))
    est = regs.groupBy("s").agg(
        F.count("*").alias("npres"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("sm"),
    )
    alpha = 0.7213 / (1 + 1.079 / float(_HLL_M))
    raw = (
        F.lit(alpha) * _HLL_M * _HLL_M
        / (F.col("sm") + (F.lit(_HLL_M) - F.col("npres")))
    )
    v = F.lit(_HLL_M) - F.col("npres")
    n = F.when(
        (raw <= 2.5 * _HLL_M) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(_HLL_M) * 1.0 / v),
    ).otherwise(raw)
    sizes = est.select("s", n.alias("n"))
    wide = sizes.agg(
        F.max(F.when(F.col("s") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("s") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("s") == "U", F.col("n"))).alias("nu"),
    )
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    exact = (
        clickers.intersect(buyers)
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    return wide.crossJoin(F.broadcast(exact)).select(
        F.round("na", 4).alias("est_a"),
        F.round("nb", 4).alias("est_b"),
        F.round(F.col("na") + F.col("nb") - F.col("nu"), 4).alias(
            "est_intersection"
        ),
        "exact_intersection",
    )
