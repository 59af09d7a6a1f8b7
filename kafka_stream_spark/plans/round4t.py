"""Round-4 batch T: process mining, privacy, sketches, and growth
analytics (X409-X416).

Completes four more families: the directly-follows graph is the core
process-mining artifact (the input every alpha-miner-class algorithm
consumes; X390's paths and X110's transitions are its projections);
l-diversity extends X245's k-anonymity to the sensitive-attribute axis;
KMV joins the portable-sketch shelf (X101 CMS, X102 HLL, X103 Bloom)
as the one whose estimate is DETERMINISTIC and therefore fully
hash-oracled; cross-correlation, recommender coverage/novelty,
geofencing, Nelson-Aalen hazards, and social-capital growth accounting
round out their respective batteries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.dims import local_frame
from ..sources.tables import load
from ..streaming.pipeline import Cells, StoreSpec
from .geo import _POINTS_SQL, _points
from .registry import query

# ---------------------------------------------------------------------------
# X409 — directly-follows graph (process map)
# ---------------------------------------------------------------------------


@query(
    "q_process_map",
    oracle="""
    WITH seq AS (
      SELECT user_id, date_trunc('day', ts) AS d, event_type, ts,
             lag(event_type) OVER w AS prev_type,
             lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ts, event_id)
    ), edges AS (
      SELECT coalesce(prev_type, '__START__') AS src, event_type AS dst,
             CASE WHEN prev_ts IS NOT NULL
                  THEN epoch(ts) - epoch(prev_ts) END AS dur
      FROM seq
      UNION ALL
      SELECT event_type, '__END__', NULL
      FROM (SELECT event_type, row_number() OVER
              (PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn = 1
    )
    SELECT src, dst, CAST(count(*) AS BIGINT) AS n,
           round(avg(dur), 3) AS mean_dur_s
    FROM edges GROUP BY src, dst
    """,
)
def q_process_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X409 — directly-follows graph with virtual START/END nodes per
    user-day case: edge frequency and mean transition duration — the
    process-mining artifact (PM4Py/Disco's first screen; every
    alpha-miner-class discovery algorithm consumes exactly this
    table). X110's transition matrix is this graph without durations
    or endpoints; X390's paths are its most frequent walks. One
    windowed lag pass and a per-case tail pick; edges aggregate on a
    k² key."""
    return PROCESS_MAP.batch(spark, sf_dir)


def dfg_edges(e: DataFrame) -> DataFrame:
    """Per-transition DFG rows (src, dst, dur) with virtual START/END.
    Sessions must not straddle the input frame, which holds for the
    whole table and for session-keyed micro-batches."""
    w = Window.partitionBy(
        "user_id", F.date_trunc("day", "ts")
    ).orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    body = seq.select(
        F.coalesce("prev_type", F.lit("__START__")).alias("src"),
        F.col("event_type").alias("dst"),
        F.when(
            F.col("prev_ts").isNotNull(),
            F.unix_micros("ts") / 1e6 - F.unix_micros("prev_ts") / 1e6,
        ).alias("dur"),
    )
    wrev = Window.partitionBy(
        "user_id", F.date_trunc("day", "ts")
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    tails = (
        e.withColumn("rn", F.row_number().over(wrev))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("src"),
            F.lit("__END__").alias("dst"),
            F.lit(None).cast("double").alias("dur"),
        )
    )
    return body.unionByName(tails)


def dfg_partials(e: DataFrame) -> DataFrame:
    """Events → mergeable per-edge partials (src, dst, n, dur_sum,
    dur_n) — closed under addition, so per-micro-batch partials
    combine into the store by summing (the X401 incremental-aggregate
    identity)."""
    return dfg_edges(e).groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dur").alias("dur_sum"),
        F.count("dur").cast("long").alias("dur_n"),
    )


def dfg_from_partials(partials: DataFrame) -> DataFrame:
    """Per-edge partials → the q_process_map output contract."""
    return partials.select(
        "src",
        "dst",
        "n",
        F.round(
            F.when(
                F.col("dur_n") > 0, F.col("dur_sum") / F.col("dur_n")
            ),
            3,
        ).alias("mean_dur_s"),
    )


#: X409's streaming face: the store is k² edge rows; it needs
#: micro-batches keyed so a (user, day) session never straddles two
PROCESS_MAP = StoreSpec(
    "events",
    (Cells("edges", ("src", "dst"), dfg_partials),),
    dfg_from_partials,
)


# ---------------------------------------------------------------------------
# X410 — l-diversity audit
# ---------------------------------------------------------------------------


@query(
    "q_l_diversity",
    oracle="""
    WITH qi AS (
      SELECT user_id % 10 AS band, dayofweek(ts) AS dow,
             count(DISTINCT event_type) AS l, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(l AS BIGINT) AS l_value,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_records,
           round(count(*) * 1.0 / (SELECT count(*) FROM qi), 6)
             AS frac_groups,
           CAST(min(n) AS BIGINT) AS smallest_group
    FROM qi GROUP BY l
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X410 — l-diversity audit over (user-band, day-of-week)
    quasi-identifier groups with event_type as the sensitive
    attribute: the distribution of distinct-sensitive-value counts per
    group — the axis X245's k-anonymity misses (a k=50 group whose 50
    rows share one diagnosis is anonymous and still leaks everything;
    Machanavajjhala et al.'s fix). Groups at l=1 are disclosure risks.
    One grouped distinct-count, one k-row fold."""
    qi = (
        load(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 10).alias("band"),
            F.dayofweek("ts").alias("dow"),
        )
        .agg(
            F.countDistinct("event_type").alias("l"),
            F.count("*").alias("n"),
        )
    )
    tot = qi.agg(F.count("*").alias("tg"))
    return (
        qi.groupBy("l")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n").alias("n_records"),
            F.min("n").alias("smallest_group"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("l").cast("long").alias("l_value"),
            F.col("n_groups").cast("long").alias("n_groups"),
            F.col("n_records").cast("long").alias("n_records"),
            F.round(F.col("n_groups") * 1.0 / F.col("tg"), 6).alias(
                "frac_groups"
            ),
            F.col("smallest_group").cast("long").alias("smallest_group"),
        )
    )


# ---------------------------------------------------------------------------
# X411 — KMV (k-minimum-values) distinct sketch
# ---------------------------------------------------------------------------

_KMV_K = 256


def kmv_hashes(li: DataFrame) -> DataFrame:
    """(g, hv, l_orderkey): normalized md5 hashes per (returnflag,
    orderkey) — the map-side of the KMV sketch, shared by the batch
    query and the streaming store."""
    return (
        li.select(F.col("l_returnflag").alias("g"), "l_orderkey")
        .distinct()
        .select(
            "g",
            "l_orderkey",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("l_orderkey").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                / 4294967296.0
            ).alias("hv"),
        )
        .select("g", "hv", "l_orderkey")
        .distinct()
    )


def kmv_keep(h: DataFrame) -> DataFrame:
    """Keep the k smallest hashes per group — the sketch state. Closed
    under merge: keep(keep(A) ∪ keep(B)) = keep(A ∪ B), which is why
    per-micro-batch sketches combine exactly (``kmv_merge``)."""
    wk = Window.partitionBy("g").orderBy("hv", "l_orderkey")
    return (
        h.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .select("g", "hv", "l_orderkey")
    )


def kmv_estimates(kept: DataFrame) -> DataFrame:
    """(sketch, kmv_estimate) rows per group + '__merged__' from the
    kept-hash state — the read side shared by query and store."""
    per_g = kept.groupBy("g").agg(
        F.max("hv").alias("hk"), F.count("*").alias("n_kept")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("long")
    ).otherwise(F.floor((_KMV_K - 1) / F.col("hk")).cast("long"))
    grp = per_g.select(
        F.col("g").alias("sketch"), est.alias("kmv_estimate")
    )
    merged = (
        kept.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("rn") <= _KMV_K)
        .agg(F.max("hv").alias("hk"), F.count("*").alias("n_kept"))
        .select(
            F.lit("__merged__").alias("sketch"), est.alias("kmv_estimate")
        )
    )
    return grp.unionByName(merged)


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT l_returnflag AS g,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
               ::BIGINT / 4294967296.0 AS hv,
             l_orderkey
      FROM lineitem
    ), ranked AS (
      SELECT g, hv, row_number() OVER
               (PARTITION BY g ORDER BY hv, l_orderkey) AS rn
      FROM h
    ), kept AS (SELECT g, hv, rn FROM ranked WHERE rn <= {_KMV_K}),
    per_g AS (
      SELECT g, max(rn) AS k_used, max(hv) AS hk,
             count(*) AS n_kept
      FROM kept GROUP BY g
    ), exact AS (
      SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS exact_d
      FROM lineitem GROUP BY 1
    ), merged AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM kept)
    ), mstats AS (
      SELECT max(rn) AS k_used, max(hv) AS hk, count(*) AS n_kept
      FROM (SELECT * FROM merged WHERE rn <= {_KMV_K})
    ), mexact AS (
      SELECT count(DISTINCT l_orderkey) AS exact_d FROM lineitem
    ), rows_out AS (
      SELECT p.g AS sketch, CAST(e.exact_d AS BIGINT) AS exact_distinct,
             CAST(CASE WHEN p.n_kept < {_KMV_K} THEN p.n_kept
                  ELSE CAST(floor(({_KMV_K} - 1) / p.hk) AS BIGINT) END
                  AS BIGINT) AS kmv_estimate
      FROM per_g p JOIN exact e ON p.g = e.g
      UNION ALL
      SELECT '__merged__', CAST(x.exact_d AS BIGINT),
             CAST(CASE WHEN m.n_kept < {_KMV_K} THEN m.n_kept
                  ELSE CAST(floor(({_KMV_K} - 1) / m.hk) AS BIGINT) END
                  AS BIGINT)
      FROM mstats m CROSS JOIN mexact x
    )
    SELECT sketch, exact_distinct, kmv_estimate,
           round(abs(kmv_estimate - exact_distinct) * 1.0
                 / exact_distinct, 6) AS rel_error
    FROM rows_out
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X411 — KMV (k-minimum-values, k=256) distinct-count sketch per
    return flag PLUS the union-merged sketch: estimate = (k−1)/h_k
    where h_k is the k-th smallest normalized md5 hash (Bar-Yossef et
    al.). The portable-sketch shelf's deterministic member: unlike
    X102's HLL the estimate depends only on the hash values, so the
    merged estimate is fully value-hash-oracled — and the merge (take
    the k smallest of the union of kept hashes) is exactly how
    per-partition sketches combine at 100 TB. Only k hashes per group
    survive the first rollup."""
    return KMV.batch(spark, sf_dir)


def kmv_sketch(li: DataFrame) -> DataFrame:
    """Lineitem → the per-flag KMV sketch (g, hv, l_orderkey)."""
    return kmv_keep(kmv_hashes(li))


def kmv_merge(existing: DataFrame, part: DataFrame) -> DataFrame:
    """keep(A ∪ B): the KMV store's keep-k merge."""
    return kmv_keep(existing.unionByName(part).distinct())


def kmv_report(li: DataFrame, kept: DataFrame) -> DataFrame:
    """(lineitem, sketch) → the q_kmv_distinct output: the sketch's
    estimates against the exact distinct counts of ``li``."""
    ests = kmv_estimates(kept.localCheckpoint(eager=True))
    exact = li.groupBy(
        F.col("l_returnflag").alias("sketch")
    ).agg(F.countDistinct("l_orderkey").alias("exact_d"))
    mexact = li.agg(
        F.lit("__merged__").alias("sketch"),
        F.countDistinct("l_orderkey").alias("exact_d"),
    )
    return ests.join(exact.unionByName(mexact), "sketch").select(
        "sketch",
        F.col("exact_d").cast("long").alias("exact_distinct"),
        "kmv_estimate",
        F.round(
            F.abs(F.col("kmv_estimate") - F.col("exact_d"))
            * 1.0
            / F.col("exact_d"),
            6,
        ).alias("rel_error"),
    )


#: X411's streaming face: keep-k-smallest is closed under union, so the
#: store's estimates EQUAL the batch sketch's; k rows per group
KMV = StoreSpec(
    "lineitem",
    (Cells("sketch", ("g",), kmv_sketch, kmv_merge),),
    kmv_report,
    reads_source=True,
)


# ---------------------------------------------------------------------------
# X412 — cross-correlation (lead/lag discovery)
# ---------------------------------------------------------------------------


@query(
    "q_cross_correlation",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ), xc AS (
      SELECT date_trunc('hour', ts) AS hr, count(*) AS x FROM events
      WHERE event_type = 'click' GROUP BY 1
    ), yc AS (
      SELECT date_trunc('hour', ts) AS hr, count(*) AS y FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ), series AS (
      SELECT s.hr, coalesce(xc.x, 0) * 1.0 AS x,
             coalesce(yc.y, 0) * 1.0 AS y
      FROM spine s LEFT JOIN xc ON s.hr = xc.hr
                   LEFT JOIN yc ON s.hr = yc.hr
    ), lags AS (SELECT unnest(generate_series(-6, 6)) AS lg),
    shifted AS (
      SELECT l.lg, s.x, s2.y
      FROM lags l
      JOIN series s ON TRUE
      JOIN series s2 ON s2.hr = s.hr + to_hours(l.lg)
    ), c AS (
      SELECT lg, count(*) AS n,
             (count(*) * sum(x * y) - sum(x) * sum(y))
             / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                    * (count(*) * sum(y * y) - sum(y) * sum(y))) AS ccf
      FROM shifted GROUP BY lg
    )
    SELECT CAST(lg AS BIGINT) AS lag_hours, CAST(n AS BIGINT) AS n_pairs,
           round(ccf, 6) AS ccf,
           round(ccf, 6) = max(round(ccf, 6)) OVER () AS is_peak
    FROM c
    """,
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X412 — cross-correlation function between the hourly click and
    purchase series at lags −6..+6 hours (zero-filled spine so shifts
    are well-defined), peak flagged — the lead/lag discovery that
    turns X154's contemporaneous rolling correlation into 'clicks
    LEAD purchases by k hours'. The spine is bounded by the horizon;
    the 13-lag explode multiplies hours, not events."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hr")
    )

    def hourly(et: str, col: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == et)
            .groupBy(F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.count("*").alias(col))
        )

    series = (
        spine.join(hourly("click", "x"), "hr", "left")
        .join(hourly("purchase", "y"), "hr", "left")
        .select(
            "hr",
            F.coalesce("x", F.lit(0)).cast("double").alias("x"),
            F.coalesce("y", F.lit(0)).cast("double").alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    lags = spark.range(-6, 7).select(F.col("id").alias("lg"))
    s2 = series.select(
        F.col("hr").alias("hr2"), F.col("y").alias("y2")
    )
    shifted = (
        series.crossJoin(F.broadcast(lags))
        .join(
            s2,
            F.col("hr2")
            == F.col("hr") + F.make_interval(hours=F.col("lg")),
        )
    )
    n = F.count("*")
    num = n * F.sum(F.col("x") * F.col("y2")) - F.sum("x") * F.sum("y2")
    den = F.sqrt(
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        * (n * F.sum(F.col("y2") * F.col("y2")) - F.sum("y2") * F.sum("y2"))
    )
    c = shifted.groupBy("lg").agg(
        n.alias("n"), F.round(num / den, 6).alias("ccf")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return c.select(
        F.col("lg").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n_pairs"),
        "ccf",
        (F.col("ccf") == F.max("ccf").over(wall)).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# X413 — recommender coverage / novelty
# ---------------------------------------------------------------------------


@query(
    "q_rec_coverage",
    oracle="""
    WITH items AS (
      SELECT l_orderkey, l_partkey % 100 AS item FROM lineitem
    ), pop AS (
      SELECT item, count(*) AS cnt FROM items GROUP BY item
    ), tot AS (SELECT sum(cnt) AS t, count(*) AS n_items FROM pop),
    co AS (
      SELECT a.item AS i, b.item AS j, count(*) AS n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item <> b.item
      GROUP BY a.item, b.item
    ), recs AS (
      SELECT i, j FROM (
        SELECT i, j, row_number() OVER
          (PARTITION BY i ORDER BY n DESC, j) AS rn
        FROM co) WHERE rn <= 3
    ), novelty AS (
      SELECT r.i, r.j, -log2(p.cnt * 1.0 / t.t) AS nov
      FROM recs r JOIN pop p ON r.j = p.item CROSS JOIN tot t
    )
    SELECT CAST(any_value(t.n_items) AS BIGINT) AS n_items,
           CAST(count(DISTINCT n.j) AS BIGINT) AS n_recommended,
           round(count(DISTINCT n.j) * 1.0 / any_value(t.n_items), 6)
             AS catalog_coverage,
           round(avg(n.nov), 6) AS mean_novelty_bits
    FROM novelty n CROSS JOIN tot t
    """,
)
def q_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X413 — recommender coverage and novelty for the top-3
    co-purchase recommender (X204's lift table as the model): catalog
    coverage = fraction of items ever recommended, novelty = mean
    −log2(popularity share) of recommended items (Vargas & Castells)
    — the beyond-accuracy metrics that expose popularity-bias, which
    X293's MRR/NDCG reward. The co-occurrence join runs on banded item
    keys; everything after is k-row algebra."""
    items = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item")
    )
    pop = items.groupBy("item").agg(F.count("*").alias("cnt"))
    tot = pop.agg(F.sum("cnt").alias("t"), F.count("*").alias("n_items"))
    a = items.select("l_orderkey", F.col("item").alias("i"))
    b = items.select("l_orderkey", F.col("item").alias("j"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").alias("n"))
    )
    wr = Window.partitionBy("i").orderBy(F.col("n").desc(), "j")
    recs = (
        co.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 3)
        .select("i", "j")
    )
    novelty = (
        recs.join(
            F.broadcast(pop.select(F.col("item").alias("j"), "cnt")), "j"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "j", (-F.log2(F.col("cnt") * 1.0 / F.col("t"))).alias("nov")
        )
    )
    return novelty.crossJoin(F.broadcast(tot)).agg(
        F.any_value("n_items").cast("long").alias("n_items"),
        F.countDistinct("j").cast("long").alias("n_recommended"),
        F.round(
            F.countDistinct("j") * 1.0 / F.any_value("n_items"), 6
        ).alias("catalog_coverage"),
        F.round(F.avg("nov"), 6).alias("mean_novelty_bits"),
    )


# ---------------------------------------------------------------------------
# X414 — geofence containment
# ---------------------------------------------------------------------------

_FENCES = [
    ("north_band", 20.0, 45.0, -180.0, 180.0),
    ("equator_belt", -10.0, 10.0, -180.0, 180.0),
    ("west_box", -45.0, 45.0, -150.0, -60.0),
    ("east_box", -45.0, 45.0, 60.0, 150.0),
]

_FENCES_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS fence, {a} AS lat0, {b} AS lat1, "
    f"{c} AS lon0, {d} AS lon1"
    for n, a, b, c, d in _FENCES
)


@query(
    "q_geofence",
    oracle=f"""
    WITH pts AS ({_POINTS_SQL}),
    fences AS ({_FENCES_SQL}),
    hits AS (
      SELECT f.fence, p.lat, p.lon
      FROM pts p JOIN fences f
        ON p.lat >= f.lat0 AND p.lat < f.lat1
       AND p.lon >= f.lon0 AND p.lon < f.lon1
    ), tot AS (SELECT count(*) AS n FROM pts)
    SELECT h.fence, CAST(count(*) AS BIGINT) AS n_points,
           round(count(*) * 1.0 / any_value(t.n), 6) AS frac_of_points,
           round(avg(h.lat), 4) AS centroid_lat,
           round(avg(h.lon), 4) AS centroid_lon
    FROM hits h CROSS JOIN tot t GROUP BY h.fence
    """,
)
def q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X414 — geofence containment: points against a broadcast table
    of rectangular fences (half-open [lat0,lat1)×[lon0,lon1) so
    boundary points land in exactly one adjacent fence), per-fence
    counts, shares, and centroids — the alerting primitive under
    X208's radius join (a fence test is a range predicate, no distance
    math, so it stays in whole-stage codegen). Overlapping fences
    multi-count by design, as real geofence alerting does."""
    pts = _points(spark, sf_dir)
    fences = local_frame(
        spark,
        _FENCES,
        "fence string, lat0 double, lat1 double, lon0 double, lon1 double",
    )
    hits = pts.join(
        F.broadcast(fences),
        (F.col("lat") >= F.col("lat0"))
        & (F.col("lat") < F.col("lat1"))
        & (F.col("lon") >= F.col("lon0"))
        & (F.col("lon") < F.col("lon1")),
    )
    tot = pts.agg(F.count("*").alias("n"))
    return (
        hits.crossJoin(F.broadcast(tot))
        .groupBy("fence")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.round(F.count("*") * 1.0 / F.any_value("n"), 6).alias(
                "frac_of_points"
            ),
            F.round(F.avg("lat"), 4).alias("centroid_lat"),
            F.round(F.avg("lon"), 4).alias("centroid_lon"),
        )
    )


# ---------------------------------------------------------------------------
# X415 — Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


@query(
    "q_nelson_aalen",
    oracle="""
    WITH span AS (
      SELECT user_id, min(ts) AS first_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ), subj AS (
      SELECT CASE WHEN first_purchase IS NOT NULL
                  THEN date_diff('day', first_ts, first_purchase)
                  ELSE date_diff('day', first_ts, last_ts) END AS t,
             CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END
               AS observed
      FROM span
    ), by_t AS (
      SELECT t, sum(observed) AS d, count(*) - sum(observed) AS c
      FROM subj GROUP BY t
    ), na AS (
      SELECT t, d,
             (SELECT count(*) FROM subj) -
             coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t
    )
    SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d,
           round(sum(CAST(d AS DOUBLE) / n_risk)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW), 6) AS cum_hazard,
           round(sum(CAST(d AS DOUBLE) * d / (n_risk * CAST(n_risk AS
                 DOUBLE) * n_risk))
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW), 8) AS hazard_var
    FROM na WHERE d > 0 ORDER BY t
    """,
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X415 — Nelson-Aalen cumulative hazard for time-to-first-
    purchase (users who never purchase are right-censored at their
    last event) — the same estimator family as X198's Kaplan-Meier:
    H(t) = Σ dᵢ/nᵢ with the d·d/n³ variance (the form whose
    exp(−H) ≈ KM survival, preferred for small risk sets and the
    basis of hazard-ratio eyeballing before X251's log-rank). Same
    one-row-per-user collapse; the cumulative windows run over
    distinct lifetimes only."""
    e = load(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_ts"),
    )
    subj = span.select(
        F.when(
            F.col("first_purchase").isNotNull(),
            F.datediff("first_purchase", "first_ts"),
        )
        .otherwise(F.datediff("last_ts", "first_ts"))
        .alias("t"),
        F.col("first_purchase").isNotNull().cast("int").alias("observed"),
    )
    by_t = subj.groupBy("t").agg(
        F.sum("observed").alias("d"),
        (F.count("*") - F.sum("observed")).alias("c"),
    )
    ntot = subj.agg(F.count("*").alias("nn"))
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    na = by_t.crossJoin(F.broadcast(ntot)).withColumn(
        "n_risk",
        F.col("nn")
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)
        ),
    )
    dd = F.col("d").cast("double")
    return (
        na.withColumn(
            "cum_hazard", F.round(F.sum(dd / F.col("n_risk")).over(wcum), 6)
        )
        .withColumn(
            "hazard_var",
            F.round(
                F.sum(
                    dd
                    * F.col("d")
                    / (
                        F.col("n_risk")
                        * F.col("n_risk").cast("double")
                        * F.col("n_risk")
                    )
                ).over(wcum),
                8,
            ),
        )
        .filter(F.col("d") > 0)
        .select(
            F.col("t").cast("long").alias("t"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d"),
            "cum_hazard",
            "hazard_var",
        )
    )


# ---------------------------------------------------------------------------
# X416 — growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------


@query(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ), flags AS (
      SELECT user_id, wk,
             min(wk) OVER (PARTITION BY user_id) AS first_wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ), classified AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS cls,
             CASE WHEN next_wk IS NULL
                    OR next_wk > wk + INTERVAL 7 DAY
                  THEN 1 ELSE 0 END AS churns_after
      FROM flags
    )
    SELECT wk, CAST(count(*) AS BIGINT) AS wau,
           CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resurrected,
           CAST(sum(churns_after) AS BIGINT) AS n_churning_after
    FROM classified GROUP BY wk
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X416 — social-capital growth accounting on weekly actives: every
    user-week is NEW (first ever), RETAINED (active the immediately
    preceding week), or RESURRECTED (returning after a gap), plus the
    count that churns after this week — the MAU-accounting identity
    (this_wau = new + retained + resurrected; next churn balances it)
    behind every growth dashboard, one level deeper than X285's
    new-vs-returning split. One distinct user-week collapse, then
    per-user windows over weeks only."""
    uw = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", "ts")).alias("wk"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("wk")
    flags = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
        F.lead("wk").over(wo).alias("next_wk"),
    )
    cls = (
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.date_sub(F.col("wk"), 7), "retained")
        .otherwise("resurrected")
    )
    churns = (
        F.col("next_wk").isNull()
        | (F.col("next_wk") > F.date_add(F.col("wk"), 7))
    ).cast("int")
    classified = flags.select(
        "wk", cls.alias("cls"), churns.alias("churns_after")
    )
    return classified.groupBy("wk").agg(
        F.count("*").cast("long").alias("wau"),
        F.sum((F.col("cls") == "new").cast("int"))
        .cast("long")
        .alias("n_new"),
        F.sum((F.col("cls") == "retained").cast("int"))
        .cast("long")
        .alias("n_retained"),
        F.sum((F.col("cls") == "resurrected").cast("int"))
        .cast("long")
        .alias("n_resurrected"),
        F.sum("churns_after").cast("long").alias("n_churning_after"),
    )
