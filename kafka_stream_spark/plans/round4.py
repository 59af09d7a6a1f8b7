"""Round-4 breadth: text readability, financial drawdown, null-safe
joins, map higher-order functions, multi-touch attribution, STL-style
seasonal decomposition, k-core, survivorship, forecast accuracy, kNN
classification, LSH recall evaluation, and bloom-filter join pruning.

House rules apply: pure Column expressions, deterministic tie-breaks,
round() on every float before it crosses the hash gate, and a
structurally-matching DuckDB oracle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X269 — readability scoring (Flesch reading ease)
# ---------------------------------------------------------------------------


@query(
    "q_readability",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_words,
             greatest(length(text) - length(replace(text, '.', '')), 1)
               AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS n_syll
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syll,
           round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch,
           CASE WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words) >= 60
                THEN 'easy'
                WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words) >= 30
                THEN 'standard' ELSE 'difficult' END AS band
    FROM feats WHERE n_words > 0
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269 — Flesch reading-ease scoring per document (Flesch 1948,
    the standard readability screen in LLM quality pipelines alongside
    the X82 Gopher filters): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with syllables approximated by vowel-group
    count (the classic heuristic — one regexp pass) and sentences by
    period count (clamped ≥ 1). Pure map-side projection: one scan,
    no shuffle, pushes the text column only through the regexp."""
    d = load(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "n_words"
        ),
        F.greatest(
            F.length("text") - F.length(F.replace("text", F.lit("."), F.lit(""))),
            F.lit(1),
        ).alias("n_sents"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return feats.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_syll").cast("long").alias("n_syll"),
        F.round(flesch, 4).alias("flesch"),
        F.when(flesch >= 60, "easy")
        .when(flesch >= 30, "standard")
        .otherwise("difficult")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# X270 — running-peak drawdown
# ---------------------------------------------------------------------------


@query(
    "q_drawdown",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1, 2
    ), dd AS (
      SELECT pri, d, rev,
             max(rev) OVER (PARTITION BY pri ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily
    ), scored AS (
      SELECT pri, d, rev, peak,
             round(1.0 - rev / peak, 6) AS drawdown,
             row_number() OVER (PARTITION BY pri
               ORDER BY round(1.0 - rev / peak, 6) DESC, d) AS rn
      FROM dd
    )
    SELECT pri AS o_orderpriority, drawdown AS max_drawdown,
           d AS trough_day, round(peak, 2) AS peak_at_trough
    FROM scored WHERE rn = 1
    """,
)
def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270 — maximum drawdown of the daily-revenue series per order
    priority: running peak via a cumulative-max window, drawdown =
    1 − value/peak, and the deepest trough (earliest day on ties) per
    series — the risk metric every financial monitoring stack computes,
    here as two partitioned windows over the post-rollup daily grain
    (tiny vs the fact table; the only full-data shuffle is the daily
    groupBy, which partial-aggregates map-side)."""
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.to_date("o_orderdate").alias("d"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w_peak = (
        Window.partitionBy("pri")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.withColumn("peak", F.max("rev").over(w_peak)).withColumn(
        "drawdown", F.round(1.0 - F.col("rev") / F.col("peak"), 6)
    )
    w_rank = Window.partitionBy("pri").orderBy(F.desc("drawdown"), "d")
    return (
        dd.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.col("drawdown").alias("max_drawdown"),
            F.col("d").alias("trough_day"),
            F.round("peak", 2).alias("peak_at_trough"),
        )
    )


# ---------------------------------------------------------------------------
# X271 — null-safe equality join
# ---------------------------------------------------------------------------


@query(
    "q_null_safe_join",
    oracle="""
    WITH c AS (
      SELECT nullif(c_nationkey % 5, 4) AS k, count(*) AS n_cust
      FROM customer GROUP BY 1
    ), s AS (
      SELECT nullif(s_nationkey % 5, 3) AS k, count(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT c.k AS key, c.n_cust, s.n_supp
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271 — null-safe equality join (Spark's ``<=>`` /
    ``eqNullSafe``, SQL's IS NOT DISTINCT FROM): NULL keys MATCH each
    other instead of silently dropping — the semantics dimension the
    X140 three-valued NOT IN row pins for predicates, here pinned for
    join keys. Still compiles to a hash join (the null bucket is just
    one more key), so no plan penalty for the safer semantics."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_nationkey") % 5, F.lit(4)).alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.nullif(F.col("s_nationkey") % 5, F.lit(3)).alias("ks"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.k.eqNullSafe(s.ks)).select(
        F.col("k").alias("key"), "n_cust", "n_supp"
    )


# ---------------------------------------------------------------------------
# X272 — map higher-order functions
# ---------------------------------------------------------------------------


@query(
    "q_map_hof",
    oracle="""
    SELECT doc_id,
           'chars_x=' || (n_chars * 2) || ',id_x=' || ((doc_id % 100) * 2)
             AS doubled,
           CASE WHEN n_chars >= 100 AND doc_id % 100 >= 100
                  THEN 'chars=' || n_chars || ',id=' || (doc_id % 100)
                WHEN n_chars >= 100 THEN 'chars=' || n_chars
                WHEN doc_id % 100 >= 100 THEN 'id=' || (doc_id % 100)
                ELSE '' END AS big_only,
           'chars=' || n_chars || ',id=' || (doc_id % 100) AS zip_delta
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def q_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X272 — MAP higher-order functions (the X221 array-HOF family's
    map siblings, not covered by X123's basic map ops):
    ``transform_keys`` + ``transform_values`` (doubled, '_x' keys),
    ``map_filter`` (values >= 100 only), and ``map_zip_with`` (delta of
    the doubled map against the original == the original). Map columns
    are unhashable driver-side, so each result is canonicalized to a
    sorted 'k=v' string via map_entries→transform→array_sort→
    array_join — the array-valued-output rule from round 2. The DuckDB
    twin computes the same strings directly from the scalar components
    (it has no mutating map lambdas), which is exactly the point: the
    ENGINE surface is the map API, the CONTRACT is the values."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    m = F.map_from_arrays(
        F.array(F.lit("chars"), F.lit("id")),
        F.array(F.col("n_chars"), F.col("doc_id") % 100),
    )

    def stringify(mp):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(mp),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                )
            ),
            ",",
        )

    doubled = F.transform_values(
        F.transform_keys(m, lambda k, v: F.concat(k, F.lit("_x"))),
        lambda k, v: v * 2,
    )
    big_only = F.map_filter(m, lambda k, v: v >= 100)
    zip_delta = F.map_zip_with(
        F.transform_values(m, lambda k, v: v * 2), m, lambda k, a, b: a - b
    )
    return d.select(
        "doc_id",
        stringify(doubled).alias("doubled"),
        stringify(big_only).alias("big_only"),
        stringify(zip_delta).alias("zip_delta"),
    )


# ---------------------------------------------------------------------------
# X273 — multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "q_multi_touch_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, ts AS cts FROM (
        SELECT user_id, ts, row_number() OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase') WHERE rn = 1
    ), touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id,
             row_number() OVER (PARTITION BY e.user_id
               ORDER BY e.ts, e.event_id) AS pos,
             count(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE e.ts < c.cts AND e.event_type <> 'purchase'
    ), credited AS (
      SELECT event_type,
             1.0 / n AS linear_credit,
             CASE WHEN n = 1 THEN 1.0
                  WHEN n = 2 THEN 0.5
                  WHEN pos = 1 OR pos = n THEN 0.4
                  ELSE 0.2 / (n - 2) END AS ushape_credit
      FROM touches
    )
    SELECT event_type,
           count(*) AS n_touches,
           round(sum(linear_credit), 4) AS linear_credit,
           round(sum(ushape_credit), 4) AS ushape_credit
    FROM credited GROUP BY event_type
    """,
)
def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X273 — multi-touch conversion attribution (the X212 last-touch
    row's full-credit siblings): every touchpoint before a user's FIRST
    purchase shares the conversion credit under (a) linear 1/n and
    (b) position-based U-shape (40% first, 40% last, 20% split across
    middles; degenerate paths get 1.0 / 0.5+0.5) — the two standard
    models marketing analytics runs next to last-touch. One
    user-partitioned ranking window finds the conversion, one join
    restricts to pre-conversion touches, two partitioned windows
    position them; credit sums are a partial-agg rollup. Determinism:
    (ts, event_id) tie-breaks everywhere."""
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("cts"))
    )
    touches = (
        ev.join(conv, "user_id")
        .filter((F.col("ts") < F.col("cts")) & (F.col("event_type") != "purchase"))
        .withColumn("pos", F.row_number().over(w_first))
        .withColumn("n", F.count("*").over(Window.partitionBy("user_id")))
    )
    ushape = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        touches.select(
            "event_type",
            (F.lit(1.0) / F.col("n")).alias("lin"),
            ushape.alias("ush"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("lin"), 4).alias("linear_credit"),
            F.round(F.sum("ush"), 4).alias("ushape_credit"),
        )
    )


# ---------------------------------------------------------------------------
# X274 — STL-style seasonal decomposition
# ---------------------------------------------------------------------------


@query(
    "q_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), trended AS (
      SELECT event_type, d, n,
             avg(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      FROM daily
    ), seasonal AS (
      SELECT event_type, d, n, trend,
             date_diff('day', DATE '1995-01-01', d) % 7 AS dow,
             avg(n - trend) OVER (
               PARTITION BY event_type,
                            date_diff('day', DATE '1995-01-01', d) % 7)
               AS seas
      FROM trended
    )
    SELECT event_type, d, CAST(n AS BIGINT) AS n,
           round(trend, 4) AS trend,
           round(seas, 4) AS seasonal,
           round(n - trend - seas, 4) AS resid
    FROM seasonal
    """,
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274 — STL-style additive decomposition of the daily event-count
    series per type: trend = centered 7-point moving average (ROWS
    frame, partial at the edges like statsmodels' boundary handling),
    seasonal = mean detrended value per day-of-week phase, residual =
    the rest — the X211 seasonal-index row upgraded to a full
    trend/seasonal/residual split (Cleveland et al. 1990's STL shape
    with MA loess). Day-of-week comes from a datediff-mod-7 so both
    engines share the phase definition (their dayofweek() origins
    differ). All three windows are partitioned by the series key;
    the only full-scan shuffle is the daily rollup."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    w_tr = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    trended = daily.withColumn(
        "trend", F.avg(F.col("n").cast("double")).over(w_tr)
    )
    dow = F.datediff(F.col("d"), F.lit("1995-01-01").cast("date")) % 7
    seasonal = trended.withColumn("dow", dow).withColumn(
        "seas",
        F.avg(F.col("n") - F.col("trend")).over(
            Window.partitionBy("event_type", "dow")
        ),
    )
    return seasonal.select(
        "event_type",
        "d",
        F.col("n").cast("long").alias("n"),
        F.round("trend", 4).alias("trend"),
        F.round("seas", 4).alias("seasonal"),
        F.round(F.col("n") - F.col("trend") - F.col("seas"), 4).alias("resid"),
    )


# ---------------------------------------------------------------------------
# X275 — k-core decomposition (bounded peeling)
# ---------------------------------------------------------------------------

from .graph_ext import _EDGES_SQL, _edges  # noqa: E402


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    ctes = [f"a0 AS (SELECT DISTINCT a AS v FROM sym)"]
    prev = "a0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""a{i} AS (
      SELECT sym.a AS v FROM sym
      JOIN {prev} x ON sym.a = x.v JOIN {prev} y ON sym.b = y.v
      GROUP BY sym.a HAVING count(*) >= {k})"""
        )
        prev = f"a{i}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_EDGES_SQL},
    {chain}
    SELECT sym.a AS v, count(*) AS deg FROM sym
    JOIN {prev} x ON sym.a = x.v JOIN {prev} y ON sym.b = y.v
    GROUP BY sym.a
    """


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275 — k-core decomposition (k=3, 4 unrolled peeling rounds)
    over the shipment graph: each round drops vertices whose degree
    within the currently-live subgraph is < k, the standard
    graph-density screen (Seidman 1983) used to find the dense nucleus
    before community detection. 4 rounds is the bounded-superstep
    approximation of the fixpoint — the same honest-bound contract as
    X175's bounded BFS; each round is two semi-joins (endpoint
    liveness) + one count shuffle on the vertex key, shuffles sized to
    the edge count like the other iterative operators. Output: the
    surviving vertices with their in-core degree."""
    # hash-partition by `a` once: half the peeling semi-joins (and the
    # per-round degree counts) probe sym on `a` and reuse the persisted
    # exchange (guide §2.4)
    from ..session import default_parallelism

    sym = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "a")
        .persist()
    )
    parts = max(4, min(
        int(spark.conf.get("spark.sql.shuffle.partitions") or "32"),
        sym.count() // 50_000 + 1,
    ))
    restore = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        active = sym.select(F.col("a").alias("v")).distinct().localCheckpoint(
            eager=True
        )
        for _ in range(4):
            live = sym.join(
                active.withColumnRenamed("v", "a"), "a", "left_semi"
            ).join(active.withColumnRenamed("v", "b"), "b", "left_semi")
            active = (
                live.groupBy("a")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= 3)
                .select(F.col("a").alias("v"))
                .localCheckpoint(eager=True)
            )
        final = sym.join(
            active.withColumnRenamed("v", "a"), "a", "left_semi"
        ).join(active.withColumnRenamed("v", "b"), "b", "left_semi")
        out = final.groupBy(F.col("a").alias("v")).agg(
            F.count("*").alias("deg")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", restore)
        sym.unpersist()
    return out


# ---------------------------------------------------------------------------
# X276 — survivorship / golden-record merge
# ---------------------------------------------------------------------------


@query(
    "q_survivorship",
    oracle="""
    WITH members AS (
      SELECT c_custkey % 300 AS entity, c_custkey, c_mktsegment, c_acctbal
      FROM customer
    ), seg_votes AS (
      SELECT entity, c_mktsegment, count(*) AS c,
             row_number() OVER (PARTITION BY entity
               ORDER BY count(*) DESC, c_mktsegment) AS rn
      FROM members GROUP BY entity, c_mktsegment
    )
    SELECT m.entity, count(*) AS n_members,
           min(m.c_custkey) AS survivor_key,
           round(max(m.c_acctbal), 2) AS best_acctbal,
           any_value(v.c_mktsegment) AS canonical_segment
    FROM members m
    JOIN (SELECT entity, c_mktsegment FROM seg_votes WHERE rn = 1) v
      ON v.entity = m.entity
    GROUP BY m.entity
    """,
)
def q_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276 — survivorship (golden-record merge), the step AFTER X219's
    entity resolution: each duplicate cluster (here the deterministic
    ``c_custkey % 300`` blocks standing in for resolved clusters)
    collapses to one canonical record under explicit rules — keep-first
    key (min), best-value balance (max), most-frequent segment with
    lexical tie-break (deterministic mode, the X63 discipline). One
    count shuffle for the vote + one rollup; at 100 TB both key on the
    entity id, so survivorship is two partial-agg passes, never a
    driver-side merge."""
    m = load(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 300).alias("entity"),
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
    )
    w = Window.partitionBy("entity").orderBy(F.desc("c"), "c_mktsegment")
    votes = (
        m.groupBy("entity", "c_mktsegment")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("entity", F.col("c_mktsegment").alias("canonical_segment"))
    )
    return (
        m.join(votes, "entity")
        .groupBy("entity")
        .agg(
            F.count("*").alias("n_members"),
            F.min("c_custkey").alias("survivor_key"),
            F.round(F.max("c_acctbal"), 2).alias("best_acctbal"),
            F.any_value(F.col("canonical_segment")).alias(
                "canonical_segment"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X277 — forecast accuracy battery (MAE / WAPE / sMAPE / MASE)
# ---------------------------------------------------------------------------


@query(
    "q_forecast_accuracy",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS pri,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             round(sum(o_totalprice), 2) AS y
      FROM orders GROUP BY 1, 2
    ), lagged AS (
      SELECT pri, m, y,
             lag(y, 12) OVER (PARTITION BY pri ORDER BY m) AS f_snaive,
             lag(y, 1)  OVER (PARTITION BY pri ORDER BY m) AS f_naive
      FROM monthly
    ), scored AS (
      SELECT pri, y, f_snaive, f_naive FROM lagged
      WHERE f_snaive IS NOT NULL AND f_naive IS NOT NULL
    )
    SELECT pri AS o_orderpriority, count(*) AS n_months,
           round(avg(abs(y - f_snaive)), 2) AS mae,
           round(sum(abs(y - f_snaive)) / sum(abs(y)), 6) AS wape,
           round(avg(2 * abs(y - f_snaive) / (abs(y) + abs(f_snaive))), 6)
             AS smape,
           round(avg(abs(y - f_snaive)) / avg(abs(y - f_naive)), 6) AS mase
    FROM scored GROUP BY pri
    """,
)
def q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X277 — forecast-accuracy battery for the seasonal-naive
    forecaster (lag-12 month) against monthly revenue per priority:
    MAE, WAPE (the scale-free operations favorite), sMAPE (the M-
    competition metric), and MASE (Hyndman-Koehler 2006 — MAE scaled
    by the naive lag-1 forecast's MAE, so > 1 means 'worse than
    naive'). The eval harness every forecasting pipeline (X218 Holt,
    X211 seasonal) needs next to it. One monthly rollup + two lag
    windows per series + one rollup — all partitioned by the series
    key."""
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
    )
    w = Window.partitionBy("pri").orderBy("m")
    scored = (
        monthly.withColumn("f_snaive", F.lag("y", 12).over(w))
        .withColumn("f_naive", F.lag("y", 1).over(w))
        .filter(F.col("f_snaive").isNotNull() & F.col("f_naive").isNotNull())
    )
    err = F.abs(F.col("y") - F.col("f_snaive"))
    return scored.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.count("*").alias("n_months"),
        F.round(F.avg(err), 2).alias("mae"),
        F.round(F.sum(err) / F.sum(F.abs("y")), 6).alias("wape"),
        F.round(
            F.avg(2 * err / (F.abs("y") + F.abs("f_snaive"))), 6
        ).alias("smape"),
        F.round(
            F.avg(err) / F.avg(F.abs(F.col("y") - F.col("f_naive"))), 6
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# X278 — k-nearest-neighbor classification
# ---------------------------------------------------------------------------

from ..functions import vectors  # noqa: E402


from ..operators import ann as _ann  # noqa: E402

_KNN_ORACLE = f"""
    WITH test AS (
      SELECT vec_id AS q_id, embedding AS q_emb, label AS true_label
      FROM embeddings WHERE vec_id % 20 = 0
    ), train AS (
      SELECT vec_id AS n_id, embedding AS emb, label AS lbl
      FROM embeddings WHERE vec_id % 20 <> 0
    ), cent AS (
      SELECT n_id AS c_id, emb AS c_emb FROM train WHERE n_id % 50 = 1
    ), {_ann.ivf_search_sql(
        "train", "test", "cent", k=5, nprobe=2,
        corpus_extra=("lbl",), query_extra=("true_label",),
    )}, votes AS (
      SELECT q_id, true_label, lbl AS pred_label, count(*) AS c,
             row_number() OVER (PARTITION BY q_id
               ORDER BY count(*) DESC, lbl) AS vr
      FROM ivf_topk GROUP BY q_id, true_label, lbl
    )
    SELECT true_label, pred_label, count(*) AS n
    FROM votes WHERE vr = 1 GROUP BY true_label, pred_label
    """


@query("q_knn_classify", oracle=_KNN_ORACLE)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278 — 5-NN majority-vote classification of a held-out 5% of
    the embedding table against the rest, reported as a confusion
    matrix — the lazy-learner baseline every embedding-quality check
    runs next to X246's nearest-centroid. Candidate generation routes
    through the reusable IVF operator (operators/ann.ivf_search —
    round-5 verdict ask #1): the train side is partitioned into
    inverted lists by a deterministic coarse quantizer (every 50th
    train vector, gate-pinned; production trains a k ~ sqrt(n)
    codebook via operators/semdedup.train_centroids) and each test
    vector scores only its nprobe=2 probed lists — never the corpus.
    Top-5 via a per-query ranking window, majority vote with
    (count DESC, label) tie-break so the argmax is deterministic.
    The DuckDB oracle replays the identical routing
    (operators/ann.ivf_search_sql), so the hash gate pins the IVF
    path itself, the q_ann_recall discipline."""
    e = load(spark, sf_dir, "embeddings")
    test = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    train = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("emb"),
        F.col("label").alias("lbl"),
    )
    top5 = _ann.ivf_search(train, test, k=5, nprobe=2, every=50, residue=1)
    w_vote = Window.partitionBy("q_id").orderBy(F.desc("c"), "lbl")
    votes = (
        top5.groupBy("q_id", "true_label", "lbl")
        .agg(F.count("*").alias("c"))
        .withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
    )
    return votes.groupBy(
        "true_label", F.col("lbl").alias("pred_label")
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# X279 — LSH recall evaluation (dedup quality as a query)
# ---------------------------------------------------------------------------

from ..operators import lsh  # noqa: E402


@query(
    "q_lsh_recall",
    oracle=f"""
    WITH {lsh.minhash_cte_chain()},
    exact AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM h x JOIN h y ON x.doc_id < y.doc_id
      WHERE round(
          len(list_filter(x.hs, v -> list_contains(y.hs, v))) * 1.0
          / (len(x.hs) + len(y.hs)
             - len(list_filter(x.hs, v -> list_contains(y.hs, v)))), 6)
        >= 0.5
    ), hit AS (
      SELECT e.doc_a, p.doc_a IS NOT NULL AS found
      FROM exact e LEFT JOIN pairs p
        ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
    )
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM pairs) AS n_lsh,
           CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(sum(CASE WHEN found THEN 1 ELSE 0 END) * 1.0
                 / greatest(count(*), 1), 6) AS recall
    FROM hit
    """,
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X279 — recall of the MinHash-LSH dedup path (q_near_dedup: 8
    bands x 4 rows) against the EXACT >= 0.5 Jaccard pair set, measured
    as a query — the X86 ANN-recall discipline applied to the text-dedup
    stack, closing the 'how much does banding miss' question with a
    number instead of the banding probability argument. The exact side
    is the correctness twin: every pair sharing a shingle, verified
    exactly (never the scale path; excluded from bench); the LSH side is
    the production pipeline.
    Output: exact pairs, LSH pairs, hits, recall."""
    from .llm_ext import near_dup_pairs

    h = lsh.shingle_sets(load(spark, sf_dir, "documents")).persist()
    # a pair with Jaccard >= 0.5 shares a shingle, so the candidates are
    # the pairs that share one (an equi-join on the exploded hashes, not
    # all n^2 pairs); a doc with no shingles scores NULL against any
    # other and has no candidate
    hv = h.select("doc_id", F.explode("hs").alias("hv"))
    shared = (
        hv.alias("x")
        .join(hv.alias("y"), "hv")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    exact = (
        shared.join(
            h.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        )
        .join(
            h.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
        .filter(lsh.jaccard("hs_a", "hs_b") >= 0.5)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    h.unpersist()
    banded = near_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    ).localCheckpoint(eager=True)
    hit = exact.join(
        banded,
        (F.col("doc_a") == F.col("la")) & (F.col("doc_b") == F.col("lb")),
        "left",
    ).select(F.col("la").isNotNull().alias("found"))
    n_lsh = banded.agg(F.count("*").alias("n_lsh"))
    return (
        hit.agg(
            F.count("*").alias("n_exact"),
            F.sum(F.col("found").cast("long")).alias("n_hit"),
            F.round(
                F.sum(F.col("found").cast("long"))
                * 1.0
                / F.greatest(F.count("*"), F.lit(1)),
                6,
            ).alias("recall"),
        )
        .crossJoin(F.broadcast(n_lsh))
        .select("n_exact", "n_lsh", "n_hit", "recall")
    )


# ---------------------------------------------------------------------------
# X280 — bloom-filter join pruning (runtime-filter shape, portable)
# ---------------------------------------------------------------------------

from ..functions import hashing  # noqa: E402

_BJ_M, _BJ_K = 4096, 3  # bloom bits / hash count (X103's geometry)


@query(
    "q_bloom_join_prune",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT c_custkey,
             {hashing.token_hash_sql('CAST(c_custkey AS VARCHAR)')} AS hh
      FROM customer WHERE c_acctbal > 9000),
    kp(kid, a, b) AS (VALUES {", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(hashing.MINHASH_PARAMS[4:7])
    )}),
    bits AS (
      SELECT DISTINCT
             (((kp.a * (build.hh % {hashing.MERSENNE_P})) + kp.b)
              % {hashing.MERSENNE_P}) % {_BJ_M} AS bitpos
      FROM build CROSS JOIN kp),
    probe AS (
      SELECT o_orderkey, o_custkey,
             {hashing.token_hash_sql('CAST(o_custkey AS VARCHAR)')} AS hh
      FROM orders),
    checks AS (
      SELECT p.o_orderkey, p.o_custkey, count(bits.bitpos) AS n_set
      FROM probe p CROSS JOIN kp
      LEFT JOIN bits ON bits.bitpos =
        (((kp.a * (p.hh % {hashing.MERSENNE_P})) + kp.b)
         % {hashing.MERSENNE_P}) % {_BJ_M}
      GROUP BY p.o_orderkey, p.o_custkey),
    flagged AS (
      SELECT c.o_orderkey,
             c.n_set = {_BJ_K} AS pass_bloom,
             b.c_custkey IS NOT NULL AS true_match
      FROM checks c LEFT JOIN build b ON b.c_custkey = c.o_custkey)
    SELECT count(*) AS n_orders,
           CAST(sum(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_bloom,
           CAST(sum(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_match,
           CAST(sum(CASE WHEN pass_bloom AND NOT true_match
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           round(1.0 - sum(CASE WHEN pass_bloom THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS shuffle_reduction
    FROM flagged
    """,
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X280 — bloom-filter JOIN PRUNING, the composition X103's
    portable bloom exists for: the selective dimension side (high-
    balance customers, ~10% of keys) builds a 4096-bit filter whose bit
    set ships as a tiny DISTINCT table; the fact side (orders) is
    membership-tested BEFORE any join shuffle, and the output reports
    exactly what a runtime row-filter buys — rows that skip the shuffle
    (shuffle_reduction) and the false-positive overhead that still
    joins-and-drops. This is Spark's own runtime bloom pruning
    (spark.sql.optimizer.runtime.bloomFilter, plan-asserted in
    tests/test_scale_ops.py) spelled as portable relational algebra so
    both engines agree bit-for-bit, false positives included."""
    build = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(
            "c_custkey",
            hashing.token_hash(F.col("c_custkey").cast("string")).alias("hh"),
        )
        .distinct()
    )
    params = hashing.MINHASH_PARAMS[4:7]
    bitpos = [
        ((F.lit(a) * (F.col("hh") % hashing.MERSENNE_P) + F.lit(b))
         % hashing.MERSENNE_P) % _BJ_M
        for a, b in params
    ]
    bits = (
        build.select(F.explode(F.array(*bitpos)).alias("bitpos"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    probe = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        hashing.token_hash(F.col("o_custkey").cast("string")).alias("hh"),
    )
    checked = probe
    for i, (a, b) in enumerate(params):
        pos = ((F.lit(a) * (F.col("hh") % hashing.MERSENNE_P) + F.lit(b))
               % hashing.MERSENNE_P) % _BJ_M
        hit = bits.select(F.col("bitpos").alias(f"bp{i}"))
        checked = checked.join(
            F.broadcast(hit), pos == F.col(f"bp{i}"), "left"
        ).withColumn(f"set{i}", F.col(f"bp{i}").isNotNull()).drop(f"bp{i}")
    pass_bloom = F.col("set0") & F.col("set1") & F.col("set2")
    flagged = checked.join(
        F.broadcast(build.select(F.col("c_custkey").alias("bk"))),
        F.col("o_custkey") == F.col("bk"),
        "left",
    ).select(
        pass_bloom.alias("pass_bloom"),
        F.col("bk").isNotNull().alias("true_match"),
    )
    return flagged.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("pass_bloom").cast("long")).alias("n_pass_bloom"),
        F.sum(F.col("true_match").cast("long")).alias("n_true_match"),
        F.sum(
            (F.col("pass_bloom") & ~F.col("true_match")).cast("long")
        ).alias("n_false_pos"),
        F.round(
            1.0 - F.sum(F.col("pass_bloom").cast("long")) * 1.0 / F.count("*"),
            6,
        ).alias("shuffle_reduction"),
    )
