"""Round-4 batch W: allocation, attribution, and tail analytics
(X432-X439).

Closers for several applied families: iterative proportional fitting
(raking) is THE survey/census weighting algorithm; exact Shapley values
settle the attribution question X212/X294 answer heuristically;
calendar effect decomposition, the newsvendor quantile, Heaps'-law
vocabulary growth, the Hill tail-index, Markov absorption
probabilities, and closed-form power analysis each turn an existing
battery's measurement into its decision. Unrolled fixed-round
iterations where the algorithm iterates (IPF, absorption series) —
each round is a k-row join, never a corpus pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round4o import _ERF_SQL, _p_two_sided

# ---------------------------------------------------------------------------
# X432 — raking / iterative proportional fitting
# ---------------------------------------------------------------------------


@query(
    "q_raking",
    oracle="""
    WITH cells AS (
      SELECT doc_id % 4 AS band, lang, CAST(count(*) AS DOUBLE) AS n
      FROM documents GROUP BY 1, 2
    ), tot AS (SELECT sum(n) AS t, count(DISTINCT band) AS nb,
                      count(DISTINCT lang) AS nl FROM cells),
    r1 AS (
      SELECT c.band, c.lang,
             c.n * (t.t / t.nb) / sum(c.n) OVER (PARTITION BY c.band)
               AS w
      FROM cells c CROSS JOIN tot t
    ), c1 AS (
      SELECT r1.band, r1.lang,
             r1.w * (t.t / t.nl) / sum(r1.w) OVER (PARTITION BY r1.lang)
               AS w
      FROM r1 CROSS JOIN tot t
    ),
    r2 AS (
      SELECT band, lang,
             w * (t.t / t.nb) / sum(w) OVER (PARTITION BY band) AS w
      FROM c1 CROSS JOIN tot t
    ), c2 AS (
      SELECT band, lang,
             w * (t.t / t.nl) / sum(w) OVER (PARTITION BY lang) AS w
      FROM r2 CROSS JOIN tot t
    ), err AS (
      SELECT max(abs(rm - t.t / t.nb)) AS row_err
      FROM (SELECT band, sum(w) AS rm FROM c2 GROUP BY band)
      CROSS JOIN tot t
    )
    SELECT c2.band, c2.lang,
           CAST(c.n AS BIGINT) AS n_docs,
           round(c2.w, 6) AS fitted_weight,
           round(c2.w / c.n, 6) AS weight_per_doc,
           round((SELECT row_err FROM err), 6) AS max_row_margin_err
    FROM c2 JOIN cells c ON c2.band = c.band AND c2.lang = c.lang
    """,
)
def q_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X432 — raking (iterative proportional fitting, Deming-Stephan):
    two full IPF rounds pulling the observed (band × lang) table
    toward UNIFORM band and language margins — the survey-weighting /
    dataset-rebalancing algorithm that X92's stratified mix needs when
    BOTH axes carry targets (scale one margin, the other drifts; IPF
    alternates until they co-converge, and the residual row-margin
    error after round 2 is reported). Every step is a window over the
    k-cell table."""
    cells = (
        load(spark, sf_dir, "documents")
        .groupBy((F.col("doc_id") % 4).alias("band"), "lang")
        .agg(F.count("*").cast("double").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").alias("t"),
        F.countDistinct("band").alias("nb"),
        F.countDistinct("lang").alias("nl"),
    )
    w = cells.crossJoin(F.broadcast(tot)).withColumn("w", F.col("n"))
    for _ in range(2):
        w = w.withColumn(
            "w",
            F.col("w")
            * (F.col("t") / F.col("nb"))
            / F.sum("w").over(Window.partitionBy("band")),
        )
        w = w.withColumn(
            "w",
            F.col("w")
            * (F.col("t") / F.col("nl"))
            / F.sum("w").over(Window.partitionBy("lang")),
        )
    err = (
        w.groupBy("band", "t", "nb")
        .agg(F.sum("w").alias("rm"))
        .agg(
            F.max(
                F.abs(F.col("rm") - F.col("t") / F.col("nb"))
            ).alias("row_err")
        )
    )
    return w.crossJoin(F.broadcast(err)).select(
        "band",
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round("w", 6).alias("fitted_weight"),
        F.round(F.col("w") / F.col("n"), 6).alias("weight_per_doc"),
        F.round("row_err", 6).alias("max_row_margin_err"),
    )


# ---------------------------------------------------------------------------
# X433 — exact Shapley attribution
# ---------------------------------------------------------------------------


@query(
    "q_shapley_attribution",
    oracle="""
    WITH sess AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cv,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cc,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS cs,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1, 2
    ), coal AS (
      SELECT cv, cc, cs, avg(CAST(conv AS DOUBLE)) AS v, count(*) AS n
      FROM sess GROUP BY cv, cc, cs
    ), p AS (
      SELECT
        coalesce(max(CASE WHEN cv=0 AND cc=0 AND cs=0 THEN v END), 0) AS v000,
        coalesce(max(CASE WHEN cv=1 AND cc=0 AND cs=0 THEN v END), 0) AS v100,
        coalesce(max(CASE WHEN cv=0 AND cc=1 AND cs=0 THEN v END), 0) AS v010,
        coalesce(max(CASE WHEN cv=0 AND cc=0 AND cs=1 THEN v END), 0) AS v001,
        coalesce(max(CASE WHEN cv=1 AND cc=1 AND cs=0 THEN v END), 0) AS v110,
        coalesce(max(CASE WHEN cv=1 AND cc=0 AND cs=1 THEN v END), 0) AS v101,
        coalesce(max(CASE WHEN cv=0 AND cc=1 AND cs=1 THEN v END), 0) AS v011,
        coalesce(max(CASE WHEN cv=1 AND cc=1 AND cs=1 THEN v END), 0) AS v111
      FROM coal
    ), phi AS (
      SELECT 'view' AS channel,
             (v100 - v000) / 3
             + ((v110 - v010) + (v101 - v001)) / 6
             + (v111 - v011) / 3 AS shapley
      FROM p
      UNION ALL
      SELECT 'click',
             (v010 - v000) / 3
             + ((v110 - v100) + (v011 - v001)) / 6
             + (v111 - v101) / 3
      FROM p
      UNION ALL
      SELECT 'signup',
             (v001 - v000) / 3
             + ((v101 - v100) + (v011 - v010)) / 6
             + (v111 - v110) / 3
      FROM p
    )
    SELECT phi.channel, round(phi.shapley, 6) AS shapley_value,
           round((SELECT v111 - v000 FROM p), 6) AS total_lift,
           round(phi.shapley
                 / nullif((SELECT sum(shapley) FROM phi), 0), 6)
             AS credit_share
    FROM phi
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X433 — exact Shapley-value attribution over the three
    pre-purchase channels (view/click/signup) with the coalition value
    v(S) = observed conversion rate of sessions exposed to exactly S:
    φ_i averages i's marginal contribution over all join orders
    (weights 1/3, 1/6, 1/3 for |S|=0,1,2) — the game-theoretically
    fair split X212's last-touch and X294's U-shape approximate by
    position. Efficiency holds by construction: Σφ = v(grand) −
    v(∅) = total_lift. One session rollup to 8 coalition rates, then
    pure literal arithmetic."""
    sess = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("cv"),
            F.max((F.col("event_type") == "click").cast("int")).alias("cc"),
            F.max((F.col("event_type") == "signup").cast("int")).alias(
                "cs"
            ),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("conv"),
        )
    )
    coal = sess.groupBy("cv", "cc", "cs").agg(
        F.avg(F.col("conv").cast("double")).alias("v")
    )

    def vv(a, b, c):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("cv") == a)
                    & (F.col("cc") == b)
                    & (F.col("cs") == c),
                    F.col("v"),
                )
            ),
            F.lit(0.0),
        )

    p = coal.agg(
        vv(0, 0, 0).alias("v000"),
        vv(1, 0, 0).alias("v100"),
        vv(0, 1, 0).alias("v010"),
        vv(0, 0, 1).alias("v001"),
        vv(1, 1, 0).alias("v110"),
        vv(1, 0, 1).alias("v101"),
        vv(0, 1, 1).alias("v011"),
        vv(1, 1, 1).alias("v111"),
    ).localCheckpoint(eager=True)
    c = F.col
    rows = [
        (
            "view",
            (c("v100") - c("v000")) / 3
            + ((c("v110") - c("v010")) + (c("v101") - c("v001"))) / 6
            + (c("v111") - c("v011")) / 3,
        ),
        (
            "click",
            (c("v010") - c("v000")) / 3
            + ((c("v110") - c("v100")) + (c("v011") - c("v001"))) / 6
            + (c("v111") - c("v101")) / 3,
        ),
        (
            "signup",
            (c("v001") - c("v000")) / 3
            + ((c("v101") - c("v100")) + (c("v011") - c("v010"))) / 6
            + (c("v111") - c("v110")) / 3,
        ),
    ]
    phi = None
    for name, expr in rows:
        one = p.select(
            F.lit(name).alias("channel"),
            expr.alias("shapley"),
            (c("v111") - c("v000")).alias("total_lift"),
        )
        phi = one if phi is None else phi.unionByName(one)
    tot = phi.agg(F.sum("shapley").alias("ts"))
    return phi.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.round("shapley", 6).alias("shapley_value"),
        F.round("total_lift", 6).alias("total_lift"),
        F.round(
            F.col("shapley") / F.nullif(F.col("ts"), F.lit(0.0)), 6
        ).alias("credit_share"),
    )


# ---------------------------------------------------------------------------
# X434 — calendar effect decomposition
# ---------------------------------------------------------------------------


@query(
    "q_calendar_effects",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) / 1e6 AS v
      FROM lineitem GROUP BY 1
    ), g AS (SELECT avg(v) AS gm FROM daily),
    dow AS (
      SELECT 'dow' AS factor, CAST(dayofweek(d) AS VARCHAR) AS level,
             count(*) AS n, avg(v) - any_value(g.gm) AS effect
      FROM daily CROSS JOIN g GROUP BY dayofweek(d)
    ), mon AS (
      SELECT 'month' AS factor, CAST(month(d) AS VARCHAR) AS level,
             count(*) AS n, avg(v) - any_value(g.gm) AS effect
      FROM daily CROSS JOIN g GROUP BY month(d)
    )
    SELECT factor, level, CAST(n AS BIGINT) AS n_days,
           round(effect, 6) AS effect
    FROM (SELECT * FROM dow UNION ALL SELECT * FROM mon)
    """,
)
def q_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X434 — additive calendar-effect decomposition of daily revenue
    ($M): day-of-week and month-of-year effects as deviations from the
    grand mean — the two factor profiles X211's seasonal indices and
    X259's business-day arithmetic each use half of, here in one
    comparable table (rev ≈ grand + dow effect + month effect is the
    model X340's Holt-Winters fits adaptively). Portable weekday
    numbering (0=Sunday: DuckDB dayofweek(), Spark dayofweek()−1);
    two rollups over the collapsed series."""
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"))
        .agg(
            (
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                )
                / 1e6
            ).alias("v")
        )
    )
    g = daily.agg(F.avg("v").alias("gm"))

    def fac(name: str, key) -> DataFrame:
        return (
            daily.crossJoin(F.broadcast(g))
            .groupBy(key.cast("string").alias("level"))
            .agg(
                F.count("*").alias("n"),
                (F.avg("v") - F.any_value("gm")).alias("effect"),
            )
            .select(
                F.lit(name).alias("factor"),
                "level",
                F.col("n").cast("long").alias("n_days"),
                F.round("effect", 6).alias("effect"),
            )
        )

    return fac("dow", F.dayofweek("d") - 1).unionByName(
        fac("month", F.month("d"))
    )


# ---------------------------------------------------------------------------
# X435 — newsvendor quantile
# ---------------------------------------------------------------------------


@query(
    "q_newsvendor",
    oracle="""
    WITH wk AS (
      SELECT l_partkey % 25 AS band,
             CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
             sum(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2
    ), ranked AS (
      SELECT band, q,
             row_number() OVER (PARTITION BY band ORDER BY q, wk) AS rn,
             count(*) OVER (PARTITION BY band) AS n,
             avg(q) OVER (PARTITION BY band) AS mq
      FROM wk
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(any_value(n) AS BIGINT) AS n_weeks,
           round(any_value(mq), 4) AS mean_weekly_demand,
           round(any_value(q), 4) AS optimal_stock,
           round(any_value(q) / any_value(mq), 4) AS stock_to_mean_ratio
    FROM ranked WHERE rn = CAST(ceil(n * 5.0 / 6) AS BIGINT)
    GROUP BY band
    """,
)
def q_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X435 — newsvendor optimal stock per part band: Q* = the demand
    quantile at the critical ratio cu/(cu+co) (underage $5 vs overage
    $1 → 5/6) — the single-period inventory optimum that X420's
    normal-approximation safety stock replaces with a distribution
    assumption; this one reads the EMPIRICAL demand distribution
    directly — Q* = the smallest observed demand whose cumulative
    frequency reaches CR, the exact discrete-distribution optimum
    (demand-weeks observed; silent weeks excluded as in practice).
    One per-band rank window over weekly rows."""
    wk = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_partkey") % 25).alias("band"),
            F.to_date(F.date_trunc("week", "l_shipdate")).alias("wk"),
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    wb = Window.partitionBy("band")
    ranked = wk.select(
        "band",
        "q",
        F.row_number()
        .over(Window.partitionBy("band").orderBy("q", "wk"))
        .alias("rn"),
        F.count("*").over(wb).alias("n"),
        F.avg("q").over(wb).alias("mq"),
    )
    return (
        ranked.filter(
            F.col("rn") == F.ceil(F.col("n") * 5.0 / 6).cast("long")
        )
        .groupBy("band")
        .agg(
            F.any_value("n").cast("long").alias("n_weeks"),
            F.round(F.any_value("mq"), 4).alias("mean_weekly_demand"),
            F.round(F.any_value("q"), 4).alias("optimal_stock"),
            F.round(
                F.any_value("q") / F.any_value("mq"), 4
            ).alias("stock_to_mean_ratio"),
        )
        .select(
            F.col("band").cast("long").alias("band"),
            "n_weeks",
            "mean_weekly_demand",
            "optimal_stock",
            "stock_to_mean_ratio",
        )
    )


# ---------------------------------------------------------------------------
# X436 — Heaps'-law vocabulary growth fit
# ---------------------------------------------------------------------------


@query(
    "q_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({text.tokens_sql('text')}) AS w
      FROM documents
    ), firsts AS (
      SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
    ), doc_tok AS (
      SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id
    ), cps AS (SELECT unnest(generate_series(1, 10)) * 50 AS cp),
    curve AS (
      SELECT cp,
             (SELECT sum(nt) FROM doc_tok WHERE doc_id < cp) AS n_tokens,
             (SELECT count(*) FROM firsts WHERE first_doc < cp) AS vocab
      FROM cps
    ), fit AS (
      SELECT count(*) AS k, sum(ln(n_tokens)) AS sx,
             sum(ln(vocab)) AS sy,
             sum(ln(n_tokens) * ln(vocab)) AS sxy,
             sum(ln(n_tokens) * ln(n_tokens)) AS sxx
      FROM curve
    )
    SELECT CAST(c.cp AS BIGINT) AS n_docs,
           CAST(c.n_tokens AS BIGINT) AS n_tokens,
           CAST(c.vocab AS BIGINT) AS vocab,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS heaps_beta,
           round(exp((f.sy - (f.k * f.sxy - f.sx * f.sy)
                      / (f.k * f.sxx - f.sx * f.sx) * f.sx) / f.k), 4)
             AS heaps_k
    FROM curve c CROSS JOIN fit f
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X436 — Heaps'-law fit V = K·N^β over the vocabulary growth
    curve (checkpoints every 50 docs in doc_id order; β from the
    log-log regression): the corpus-size planning constant — β≈0.5
    means doubling the crawl grows vocabulary ~√2, which prices X288's
    vocab coverage and X421's novelty against future data. Token first
    occurrences are one min per term; the curve is 10 rows."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    doc_tok = tok.groupBy("doc_id").agg(F.count("*").alias("nt"))
    cps = spark.range(1, 11).select((F.col("id") * 50).alias("cp"))
    nt = (
        doc_tok.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") < F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    vo = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("first_doc") < F.col("cp"))
        .groupBy("cp")
        .agg(F.count("*").alias("vocab"))
    )
    curve = nt.join(vo, "cp").localCheckpoint(eager=True)
    lx, ly = F.log("n_tokens"), F.log("vocab")
    fit = curve.agg(
        F.count("*").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    kk = F.exp((F.col("sy") - beta * F.col("sx")) / F.col("k"))
    return curve.crossJoin(F.broadcast(fit)).select(
        F.col("cp").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(kk, 4).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# X437 — Hill tail-index estimator
# ---------------------------------------------------------------------------


@query(
    "q_hill_tail",
    oracle="""
    WITH v AS (
      SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk
      FROM orders
    ), ks AS (SELECT unnest([250, 500, 1000]) AS k),
    xk AS (
      SELECT ks.k, v.x AS xmin FROM ks JOIN v ON v.rnk = ks.k + 1
    ), hill AS (
      SELECT xk.k, any_value(xk.xmin) AS xmin,
             avg(ln(v.x / xk.xmin)) AS inv_alpha
      FROM xk JOIN v ON v.rnk <= xk.k
      GROUP BY xk.k
    )
    SELECT CAST(k AS BIGINT) AS k_top,
           round(xmin, 2) AS x_min,
           round(1.0 / inv_alpha, 6) AS hill_alpha,
           round(inv_alpha, 6) AS mean_log_excess
    FROM hill
    """,
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X437 — Hill estimator of the power-law tail index of order
    values at k ∈ {250, 500, 1000}: α̂ = 1/mean(ln(x_(i)/x_(k+1))) over
    the top-k order statistics — α < 2 means infinite variance and
    every mean-based KPI in the engine is fragile (the heavy-tail
    diagnostic behind X243's Zipf fit and X349's extreme-value
    return levels; stability across k is the standard Hill-plot
    read). One global sort of the value column, then k-bounded
    joins."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.row_number()
        .over(Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("rnk"),
    ).localCheckpoint(eager=True)
    ks = local_frame(spark, [(250,), (500,), (1000,)], "k long")
    xk = ks.join(v, F.col("rnk") == F.col("k") + 1).select(
        "k", F.col("x").alias("xmin")
    )
    hill = (
        xk.join(v, F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.any_value("xmin").alias("xmin"),
            F.avg(F.log(F.col("x") / F.col("xmin"))).alias("inv_alpha"),
        )
    )
    return hill.select(
        F.col("k").cast("long").alias("k_top"),
        F.round("xmin", 2).alias("x_min"),
        F.round(1.0 / F.col("inv_alpha"), 6).alias("hill_alpha"),
        F.round("inv_alpha", 6).alias("mean_log_excess"),
    )


# ---------------------------------------------------------------------------
# X438 — Markov absorption probabilities
# ---------------------------------------------------------------------------


@query(
    "q_absorption_prob",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), t AS (
      SELECT prev AS s, event_type AS nxt, count(*) AS n
      FROM seq WHERE prev IS NOT NULL AND prev <> 'purchase'
      GROUP BY 1, 2
    ), p AS (
      SELECT s, nxt, n * 1.0 / sum(n) OVER (PARTITION BY s) AS p
      FROM t
    ), r AS (
      SELECT s, coalesce(max(CASE WHEN nxt = 'purchase' THEN p END), 0)
               AS r
      FROM p GROUP BY s
    ), q AS (
      SELECT s, nxt, p FROM p WHERE nxt <> 'purchase'
    ),
    a0 AS (SELECT s, r AS a FROM r),
    a1 AS (SELECT q.s, any_value(r.r) + sum(q.p * a0.a) AS a
           FROM q JOIN a0 ON q.nxt = a0.s JOIN r ON q.s = r.s
           GROUP BY q.s),
    a2 AS (SELECT q.s, any_value(r.r) + sum(q.p * a1.a) AS a
           FROM q JOIN a1 ON q.nxt = a1.s JOIN r ON q.s = r.s
           GROUP BY q.s),
    a3 AS (SELECT q.s, any_value(r.r) + sum(q.p * a2.a) AS a
           FROM q JOIN a2 ON q.nxt = a2.s JOIN r ON q.s = r.s
           GROUP BY q.s),
    a4 AS (SELECT q.s, any_value(r.r) + sum(q.p * a3.a) AS a
           FROM q JOIN a3 ON q.nxt = a3.s JOIN r ON q.s = r.s
           GROUP BY q.s),
    a5 AS (SELECT q.s, any_value(r.r) + sum(q.p * a4.a) AS a
           FROM q JOIN a4 ON q.nxt = a4.s JOIN r ON q.s = r.s
           GROUP BY q.s)
    SELECT a5.s AS state, round(r.r, 6) AS p_direct,
           round(a5.a, 6) AS p_absorb_5step
    FROM a5 JOIN r ON a5.s = r.s
    """,
)
def q_absorption_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X438 — Markov absorption probability into 'purchase' from every
    transient state: a = R + Qa iterated 5 unrolled rounds (the
    truncated Neumann series for (I−Q)⁻¹R — per-step session-end leak
    makes Q substochastic so the series converges; the 5-step figure
    is the ≤6-transition conversion probability). This is the
    theoretically-grounded form of X44's funnel: 'from a click, how
    likely does this session EVER convert', not just along one fixed
    path. Each round is a k²-row join."""
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    t = (
        seq.filter(
            F.col("prev").isNotNull() & (F.col("prev") != "purchase")
        )
        .groupBy(F.col("prev").alias("s"), F.col("event_type").alias("nxt"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    p = t.withColumn(
        "p", F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("s"))
    ).select("s", "nxt", "p")
    r = p.groupBy("s").agg(
        F.coalesce(
            F.max(F.when(F.col("nxt") == "purchase", F.col("p"))),
            F.lit(0.0),
        ).alias("r")
    ).localCheckpoint(eager=True)
    q = p.filter(F.col("nxt") != "purchase")
    a = r.select("s", F.col("r").alias("a"))
    for _ in range(5):
        a = (
            q.join(
                a.select(F.col("s").alias("nxt"), "a"), "nxt"
            )
            .groupBy("s")
            .agg(F.sum(F.col("p") * F.col("a")).alias("qa"))
            .join(r, "s")
            .select("s", (F.col("r") + F.col("qa")).alias("a"))
        )
    return a.join(r, "s").select(
        F.col("s").alias("state"),
        F.round("r", 6).alias("p_direct"),
        F.round("a", 6).alias("p_absorb_5step"),
    )


# ---------------------------------------------------------------------------
# X439 — power analysis / sample sizing
# ---------------------------------------------------------------------------


@query(
    "q_power_analysis",
    oracle=f"""
    WITH arms AS (
      SELECT user_id % 2 AS arm,
             count(*) AS n,
             avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END)
               AS p
      FROM events GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS n1,
             max(CASE WHEN arm = 0 THEN p END) AS p1,
             max(CASE WHEN arm = 1 THEN n END) AS n2,
             max(CASE WHEN arm = 1 THEN p END) AS p2
      FROM arms
    ), d AS (
      SELECT n1, p1, n2, p2, abs(p2 - p1) AS delta,
             (p1 + p2) / 2 AS pbar,
             sqrt(p1 * (1 - p1) / n1 + p2 * (1 - p2) / n2) AS se
      FROM w
    ), z AS (
      SELECT *, delta / se - 1.96 AS zq FROM d
    )
    SELECT CAST(n1 AS BIGINT) AS n_arm0, CAST(n2 AS BIGINT) AS n_arm1,
           round(p1, 6) AS rate_arm0, round(p2, 6) AS rate_arm1,
           round(delta, 6) AS observed_delta,
           round(CASE WHEN zq >= 0
                      THEN 1 - (1 - {_ERF_SQL.format(z='abs(zq)')}) / 2
                      ELSE (1 - {_ERF_SQL.format(z='abs(zq)')}) / 2
                 END, 6) AS power_at_observed,
           CAST(ceil(2 * pbar * (1 - pbar)
                     * pow((1.96 + 0.8416) / delta, 2)) AS BIGINT)
             AS n_per_arm_for_80pct
    FROM z
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X439 — closed-form power analysis for the two-proportion
    purchase-rate contrast: achieved power Φ(Δ/se − z_0.975) at the
    observed effect, and the per-arm n for 80% power (z_0.8 = 0.8416)
    at that effect — the design arithmetic that should precede every
    X199 readout (an underpowered test that 'failed to reach
    significance' says nothing). Normal CDF from the shared A&S
    polynomial; one grouped fold, scalar algebra."""
    e = load(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.avg((F.col("event_type") == "purchase").cast("double")).alias(
            "p"
        ),
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("p"))).alias("p1"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == 1, F.col("p"))).alias("p2"),
    )
    delta = F.abs(F.col("p2") - F.col("p1"))
    pbar = (F.col("p1") + F.col("p2")) / 2
    se = F.sqrt(
        F.col("p1") * (1 - F.col("p1")) / F.col("n1")
        + F.col("p2") * (1 - F.col("p2")) / F.col("n2")
    )
    zq = delta / se - 1.96
    # Φ(zq) via the two-sided helper: Φ(z) = 1 - p_two_sided(|z|)/2 for
    # z ≥ 0, and p_two_sided(|z|)/2 for z < 0.
    phi = F.when(
        zq >= 0, 1 - _p_two_sided(zq) / 2
    ).otherwise(_p_two_sided(zq) / 2)
    return w.select(
        F.col("n1").cast("long").alias("n_arm0"),
        F.col("n2").cast("long").alias("n_arm1"),
        F.round("p1", 6).alias("rate_arm0"),
        F.round("p2", 6).alias("rate_arm1"),
        F.round(delta, 6).alias("observed_delta"),
        F.round(phi, 6).alias("power_at_observed"),
        F.ceil(
            2 * pbar * (1 - pbar) * F.pow((1.96 + 0.8416) / delta, 2)
        )
        .cast("long")
        .alias("n_per_arm_for_80pct"),
    )


# ---------------------------------------------------------------------------
# X440 — PNG pipeline under the value-hash gate
# ---------------------------------------------------------------------------

from .llm_ext import _image_phash_oracle  # noqa: E402
from ..session import default_parallelism  # noqa: E402


@query("q_png_pipeline", oracle=_image_phash_oracle())
def q_png_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X440 — the COMPRESSED image stack under the value-hash gate:
    X189's pipeline with the container swapped to PNG — each quantized
    8×8 image is zlib-compressed into a real PNG by the pure-stdlib
    encoder, decoded back through decode_png (chunk walk, inflate,
    filter reconstruction), and aHashed; the oracle recomputes the
    identical aHash arithmetically from the quantized bytes, so a
    match proves the PNG encoder, decoder, and hash agree bit-for-bit
    on every image. This closes the PNG half of the round-3 verdict's
    'compressed-format decode' gap with zero external libraries
    (zlib is stdlib); JPEG's DCT entropy coding remains the documented
    boundary. Same shuffle-free Arrow-batched shape as X189."""
    from ..operators.multimodal import encode_png, perceptual_hash

    emb = load(spark, sf_dir, "embeddings").repartition(
        default_parallelism()
    )
    px = F.transform(
        F.col("embedding"),
        lambda v: F.least(
            F.greatest(
                F.round((v.cast("double") + F.lit(1.0)) * F.lit(127.5), 0)
                .cast("bigint"),
                F.lit(0),
            ),
            F.lit(255),
        ),
    )
    quant = emb.select(F.col("vec_id").alias("doc_id"), px.alias("px"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for vals in pdf["px"]:
                gray = bytes(int(v) for v in vals)
                rgb = b"".join(bytes((g, g, g)) for g in gray)
                payloads.append(encode_png(8, 8, rgb))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = quant.mapInPandas(build, schema="doc_id long, payload binary")
    return perceptual_hash(imgs).select(
        F.col("doc_id").alias("vec_id"), "phash"
    )
