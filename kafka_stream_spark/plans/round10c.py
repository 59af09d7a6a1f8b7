"""Round-10 batch C (X727+): multi-task gradient diagnostics, label
noise, interpretable splits, off-policy estimator telemetry, causal
matching, and customer/corpus segmentation.

Reference scope note: §2.13 mandate extensions, reference-free.

- X728 q_grad_conflict: PCGrad-style gradient-conflict audit —
  pairwise cosines between per-group mean vectors.
- X730 q_gini_stump: decision-stump split search by Gini impurity.
- X731 q_snips_ope: IPS vs SNIPS off-policy estimators with effective
  sample size — the estimator-choice telemetry for logged bandits.
- X732 q_cem_match: coarsened exact matching ATT.
- X734 q_rfm_segments: recency/frequency/monetary segmentation.

(X727 Platt scaling, X729 confident learning, X733 Cox PH follow in
this module — bounded-state Newton fits in the X687/X708 split.)

Determinism contract as round10/round10b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import token_hash, token_hash_sql
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql
from .round10 import _sh_col, _sh_sql

# ---------------------------------------------------------------------------
# X728 — gradient-conflict audit (PCGrad / multi-task interference)
# ---------------------------------------------------------------------------

_GC_DIMS = 16

_GC_ORACLE = f"""
    WITH x AS (
      SELECT label, d.k,
             CAST(round(CAST(embedding[d.k + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS x4
      FROM (SELECT * FROM embeddings
            WHERE len(embedding) >= {_GC_DIMS}) e
      CROSS JOIN (SELECT unnest(range({_GC_DIMS})) AS k) d),
    s AS (
      SELECT label, k, CAST(sum(x4) AS HUGEINT) AS sv,
             CAST(count(*) AS BIGINT) AS n
      FROM x GROUP BY label, k),
    pair AS (
      SELECT a.label AS label_a, b.label AS label_b,
             any_value(a.n) AS na, any_value(b.n) AS nb,
             sum(a.sv * b.sv) AS dot,
             sum(a.sv * a.sv) AS qa, sum(b.sv * b.sv) AS qb
      FROM s a JOIN s b ON b.k = a.k AND b.label > a.label
      GROUP BY a.label, b.label)
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qb AS DOUBLE))),
                 6) AS cosine,
           CASE WHEN dot < 0 THEN 1 ELSE 0 END AS conflict
    FROM pair ORDER BY label_a, label_b
    """


@query("q_grad_conflict", oracle=_GC_ORACLE)
def q_grad_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X728 — gradient-conflict audit (PCGrad, Yu et al. 2020): when
    two task groups' mean gradient directions have NEGATIVE cosine,
    joint training makes them fight — the condition PCGrad/CAGrad
    project away and a data-mixture designer must know before
    weighting sources. Per-label mean vectors stand in for per-task
    mean gradients (identical estimator); all C(L,2) pairs scored
    since label count is bounded. Group size cancels in the cosine,
    so it is computed directly on the integer component SUMS (exact;
    HUGEINT/Python-scale products), one sqrt at the end, rounded 6.

    Scale: one combinable (label, dim) aggregate — L·d cells — then a
    bounded L² pair join. Vectors never pairwise-join; only sums do."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _GC_DIMS
    )
    x = emb.select(
        "label",
        F.posexplode(F.slice("embedding", 1, _GC_DIMS)).alias("k", "ev"),
    ).select(
        "label",
        "k",
        F.round(F.col("ev").cast("double") * 10000).cast("long").alias("x4"),
    )
    s = x.groupBy("label", "k").agg(
        F.sum("x4").alias("sv"), F.count("*").cast("long").alias("n")
    )
    # bounded label set: exact big-int dot/norms in driver Python (the
    # X717 pattern; sv products overflow int64)
    rows = s.collect()
    by_label: dict[int, dict[int, int]] = {}
    for r in rows:
        by_label.setdefault(int(r["label"]), {})[int(r["k"])] = int(r["sv"])
    import math

    labels = sorted(by_label)
    out = []
    for i, la in enumerate(labels):
        for lb in labels[i + 1 :]:
            va, vb = by_label[la], by_label[lb]
            dot = sum(va.get(k, 0) * vb.get(k, 0) for k in range(_GC_DIMS))
            qa = sum(v * v for v in va.values())
            qb = sum(v * v for v in vb.values())
            cos = round(
                float(dot) / (math.sqrt(float(qa)) * math.sqrt(float(qb))), 6
            )
            out.append((la, lb, cos, 1 if dot < 0 else 0))
    return local_frame(
        spark, out, "label_a long, label_b long, cosine double, conflict int"
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# X730 — decision-stump split search by Gini impurity
# ---------------------------------------------------------------------------

_GS_ORACLE = """
    WITH pts AS (
      SELECT CAST(round(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
               AS x4,
             label
      FROM embeddings WHERE len(embedding) >= 1),
    cell AS (
      SELECT x4, label, CAST(count(*) AS BIGINT) AS c
      FROM pts GROUP BY x4, label),
    support AS (SELECT DISTINCT x4 FROM cell),
    labels AS (SELECT DISTINCT label FROM cell),
    grid AS (
      SELECT s.x4, l.label,
             sum(coalesce(c.c, 0)) OVER (
               PARTITION BY l.label ORDER BY s.x4
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM support s CROSS JOIN labels l
      LEFT JOIN cell c ON c.x4 = s.x4 AND c.label = l.label),
    tot AS (
      SELECT label, CAST(count(*) AS BIGINT) AS nl
      FROM pts GROUP BY label),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    cuts AS (
      SELECT g.x4,
             sum(g.cum) AS n_left,
             sum(g.cum * g.cum) AS sql_,
             sum((t.nl - g.cum) * (t.nl - g.cum)) AS sqr_
      FROM grid g JOIN tot t ON t.label = g.label
      GROUP BY g.x4),
    scored AS (
      SELECT c.x4, c.n_left, nn.n - c.n_left AS n_right,
             CAST(round(1000000.0 * (
               (c.n_left - c.sql_ * 1.0 / c.n_left)
               + (nn.n - c.n_left - c.sqr_ * 1.0 / (nn.n - c.n_left))
             ) / nn.n) AS BIGINT) AS g6
      FROM cuts c CROSS JOIN nn
      WHERE c.n_left > 0 AND c.n_left < nn.n)
    SELECT x4 / 10000.0 AS cut, CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           g6 / 1000000.0 AS weighted_gini
    FROM scored ORDER BY g6, x4 LIMIT 1
    """


@query("q_gini_stump", oracle=_GS_ORACLE)
def q_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X730 — decision-stump split search: the best single threshold
    on embedding dim 1 minimizing weighted Gini impurity — CART's
    inner loop, and the standard first-look "is this feature
    informative about the label" probe (also the shape of per-feature
    split finding in distributed GBDT: histogram → prefix scan →
    argmin). The scan is exact: per-(value, label) counts, prefix
    cumsums down the support grid, and Σcum² gives each side's Gini
    without per-class division; the weighted impurity is quantized
    micro from identical integer inputs, argmin tiebreak by cut.

    Scale: support is bounded by the 1e-4 feature quantization (grid
    ≤ distinct quantized values, not corpus rows); counts combinable;
    the grid walk is support × labels."""
    emb = load(spark, sf_dir, "embeddings").filter(F.size("embedding") >= 1)
    pts = emb.select(
        F.round(F.element_at("embedding", 1).cast("double") * 10000)
        .cast("long")
        .alias("x4"),
        "label",
    )
    cell = pts.groupBy("x4", "label").agg(
        F.count("*").cast("long").alias("c")
    )
    support = cell.select("x4").distinct()
    labels = cell.select("label").distinct()
    grid = (
        support.crossJoin(labels)
        .join(cell, ["x4", "label"], "left")
        .select(
            "x4",
            "label",
            F.sum(F.coalesce("c", F.lit(0)))
            .over(
                W.partitionBy("label")
                .orderBy("x4")
                .rowsBetween(W.unboundedPreceding, 0)
            )
            .alias("cum"),
        )
    )
    tot = pts.groupBy("label").agg(F.count("*").cast("long").alias("nl"))
    n = pts.count()
    cuts = (
        grid.join(F.broadcast(tot), "label")
        .groupBy("x4")
        .agg(
            F.sum("cum").alias("n_left"),
            F.sum(F.col("cum") * F.col("cum")).alias("sql_"),
            F.sum(
                (F.col("nl") - F.col("cum")) * (F.col("nl") - F.col("cum"))
            ).alias("sqr_"),
        )
    )
    scored = cuts.filter(
        (F.col("n_left") > 0) & (F.col("n_left") < n)
    ).select(
        "x4",
        "n_left",
        (F.lit(n) - F.col("n_left")).alias("n_right"),
        F.round(
            1000000.0
            * (
                (F.col("n_left") - F.col("sql_") * 1.0 / F.col("n_left"))
                + (
                    F.lit(n)
                    - F.col("n_left")
                    - F.col("sqr_") * 1.0 / (F.lit(n) - F.col("n_left"))
                )
            )
            / F.lit(float(n))
        )
        .cast("long")
        .alias("g6"),
    )
    return (
        scored.orderBy("g6", "x4")
        .limit(1)
        .select(
            (F.col("x4") / 10000.0).alias("cut"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            (F.col("g6") / 1000000.0).alias("weighted_gini"),
        )
    )


# ---------------------------------------------------------------------------
# X731 — IPS vs SNIPS off-policy estimators with ESS
# ---------------------------------------------------------------------------

_OPE_ORACLE = f"""
    WITH arm AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS na,
             sum(CAST(round(value * 100) AS BIGINT)) AS sr
      FROM events GROUP BY event_type),
    k AS (SELECT CAST(count(*) AS BIGINT) AS karms,
                 sum(na) AS n FROM arm),
    terms AS (
      -- per-arm exact contributions; target policy π = uniform(1/K),
      -- behaviour μ(a) = na/N ⇒ per-log weight w = N/(K·na)
      SELECT a.event_type, a.na, a.sr, k.karms, k.n,
             {_half_up_sql('1000000 * a.sr * 100', 'k.karms * a.na * 10000')}
               AS wr6,
             {_half_up_sql('1000000 * k.n * k.n',
                           'k.karms * k.karms * a.na')} AS w2_6
      FROM arm a CROSS JOIN k)
    SELECT CAST(any_value(n) AS BIGINT) AS n,
           CAST(any_value(karms) AS BIGINT) AS k_arms,
           {_half_up_sql('sum(wr6)', 'any_value(n)')} / 1000000.0 AS ips,
           {_half_up_sql('sum(wr6)', 'any_value(n)')} / 1000000.0 AS snips,
           {_half_up_sql('CAST(1000000 AS BIGINT) * 1000000 * any_value(n)',
                         'sum(w2_6)')} / 1000000.0 AS ess_frac
    FROM terms
    """


@query("q_snips_ope", oracle=_OPE_ORACLE)
def q_snips_ope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X731 — IPS / SNIPS off-policy evaluation telemetry: for logged
    bandit data (action = event_type, reward = value), estimate the
    value of a UNIFORM target policy from behaviour-policy logs via
    inverse-propensity weights w = π(a)/μ(a) = N/(K·n_a). Reported:
    IPS = Σw·r/N, SNIPS = Σw·r/Σw (Swaminathan-Joachims self-
    normalization — here Σw = N identically, so SNIPS ≡ IPS and the
    row DOCUMENTS that identity for empirical propensities), and the
    effective sample size fraction (Σw)²/(N·Σw²) — the variance
    red-flag every OPE dashboard carries (complements X677's
    doubly-robust estimator with the estimator-family baselines).

    Determinism: per-arm contributions are exact integer rationals
    quantized half-up to micro BEFORE the bounded arm sum.

    Scale: one combinable aggregate to arms-sized state."""
    e = load(spark, sf_dir, "events")
    arm = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("na"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sr"),
    )
    karms, n = arm.count(), e.count()
    terms = arm.select(
        _half_up_col(
            "1000000 * sr * 100", f"{karms} * na * 10000"
        ).alias("wr6"),
        _half_up_col(
            f"1000000 * cast({n} as bigint) * {n}",
            f"{karms} * {karms} * na",
        ).alias("w2_6"),
    )
    return terms.agg(
        F.lit(n).cast("long").alias("n"),
        F.lit(karms).cast("long").alias("k_arms"),
        (_half_up_col("sum(wr6)", str(n)) / 1000000.0).alias("ips"),
        (_half_up_col("sum(wr6)", str(n)) / 1000000.0).alias("snips"),
        (
            _half_up_col(
                f"cast(1000000 as bigint) * 1000000 * {n}", "sum(w2_6)"
            )
            / 1000000.0
        ).alias("ess_frac"),
    )


# ---------------------------------------------------------------------------
# X732 — coarsened exact matching (CEM) ATT
# ---------------------------------------------------------------------------

_CEM_ORACLE = f"""
    WITH pts AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tr,
             user_id % 8 AS ub,
             CAST(round(value * 100) AS BIGINT) // 2000 AS vb,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    strata AS (
      SELECT ub, vb,
             CAST(sum(tr) AS BIGINT) AS nt,
             CAST(count(*) - sum(tr) AS BIGINT) AS nc,
             sum(CASE WHEN tr = 1 THEN cents ELSE 0 END) AS st,
             sum(CASE WHEN tr = 0 THEN cents ELSE 0 END) AS sc
      FROM pts GROUP BY ub, vb),
    kept AS (SELECT * FROM strata WHERE nt > 0 AND nc > 0),
    terms AS (
      SELECT nt,
             {_sh_sql('nt * (' + _sh_sql('10000 * st', 'nt') + ' - ('
                      + _sh_sql('10000 * sc', 'nc') + '))', '1')} AS d6
      FROM kept)
    SELECT CAST(count(*) AS BIGINT) AS n_strata_kept,
           CAST(sum(nt) AS BIGINT) AS n_treated_matched,
           {_sh_sql('sum(d6)', 'sum(nt)')} / 1000000.0 AS att
    FROM terms
    """


@query("q_cem_match", oracle=_CEM_ORACLE)
def q_cem_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X732 — coarsened exact matching (Iacus-King-Porro): coarsen
    covariates into bins (user bucket × value ventile), drop strata
    lacking either a treated ('purchase') or control unit — the
    common-support pruning that makes the remaining comparison
    model-free — and estimate the ATT as the treated-weighted mean of
    within-stratum treated−control differences. The deterministic,
    one-pass causal matcher (vs X-matching's nearest-neighbor
    searches), and the standard preprocessing before any downstream
    causal model (X659 Double-ML, X667 stratified ATE).

    Determinism: per-stratum means are half-up micro-integers; the
    ATT is one signed half-up ratio over integer treated weights.

    Scale: one combinable groupBy into bin-bounded strata."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pts = e.select(
        (F.col("event_type") == "purchase").cast("int").alias("tr"),
        (F.col("user_id") % 8).alias("ub"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 2000").alias("vb"),
        cents.alias("cents"),
    )
    strata = pts.groupBy("ub", "vb").agg(
        F.sum("tr").cast("long").alias("nt"),
        (F.count("*") - F.sum("tr")).cast("long").alias("nc"),
        F.sum(F.when(F.col("tr") == 1, F.col("cents")).otherwise(0)).alias(
            "st"
        ),
        F.sum(F.when(F.col("tr") == 0, F.col("cents")).otherwise(0)).alias(
            "sc"
        ),
    )
    kept = strata.filter((F.col("nt") > 0) & (F.col("nc") > 0))
    d6 = _sh_col(
        "nt * ("
        + "CASE WHEN (10000 * st) >= 0 THEN (2 * (10000 * st) + (nt)) div (2 * (nt)) "
        + "ELSE -((2 * (-(10000 * st)) + (nt)) div (2 * (nt))) END"
        + " - ("
        + "CASE WHEN (10000 * sc) >= 0 THEN (2 * (10000 * sc) + (nc)) div (2 * (nc)) "
        + "ELSE -((2 * (-(10000 * sc)) + (nc)) div (2 * (nc))) END"
        + "))",
        "1",
    )
    terms = kept.select("nt", d6.alias("d6"))
    return terms.agg(
        F.count("*").cast("long").alias("n_strata_kept"),
        F.sum("nt").cast("long").alias("n_treated_matched"),
        (_sh_col("sum(d6)", "sum(nt)") / 1000000.0).alias("att"),
    )


# ---------------------------------------------------------------------------
# X734 — RFM (recency / frequency / monetary) segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = f"""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    per AS (
      SELECT e.user_id,
             date_diff('day', max(e.ts), mx.m) AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             sum(CAST(round(e.value * 100) AS BIGINT)) AS mon
      FROM events e CROSS JOIN mx
      GROUP BY e.user_id, mx.m),
    scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY rec_days ASC, user_id) AS r,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
             ntile(5) OVER (ORDER BY mon DESC, user_id) AS m,
             mon
      FROM per)
    SELECT concat(CAST(r AS VARCHAR), CAST(f AS VARCHAR),
                  CAST(m AS VARCHAR)) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           {_half_up_sql('10000 * sum(mon)', 'count(*)')} / 1000000.0
             AS avg_monetary
    FROM scored GROUP BY 1 ORDER BY 1
    """


@query("q_rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X734 — RFM segmentation, the classic behavioural OLAP rollup
    (and, re-read for corpora: recency of last crawl / document count
    / total bytes per source is the same operator sizing refresh
    priorities). Per user: days since last event (vs the corpus max),
    event count, summed value; each dimension scored into quintiles
    (best = 1) with DETERMINISTIC tie-break by user_id, segments =
    the concatenated codes.

    Scale: one combinable per-user aggregate + three ntile windows
    over user-sized (not event-sized) rows; at cluster scale ntile
    over a single ordering is a range-partitioned sort."""
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("m"))
    per = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("m"), F.max("ts")).alias("rec_days"),
            F.count("*").cast("long").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("mon"),
        )
    )
    scored = per.select(
        "user_id",
        "mon",
        F.ntile(5).over(W.orderBy(F.asc("rec_days"), "user_id")).alias("r"),
        F.ntile(5).over(W.orderBy(F.desc("freq"), "user_id")).alias("f"),
        F.ntile(5).over(W.orderBy(F.desc("mon"), "user_id")).alias("m"),
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            (_half_up_col("10000 * sum(mon)", "count(*)") / 1000000.0).alias(
                "avg_monetary"
            ),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# X727 — Platt scaling (logistic score calibration)
# ---------------------------------------------------------------------------

_PL_ITERS = 6
_PL_CLAMP = 1000000  # max Newton step, micro
_PL_RANGE = 8000000


def _pl_sig_sql(a: str, b: str, x: str) -> str:
    return f"(1.0 / (1.0 + exp(-((({a}) * ({x}) + ({b})) / 1000000.0))))"


def _pl_step_sql(k: int) -> str:
    sg = _pl_sig_sql(f"p{k}.a", f"p{k}.b", "c.x")
    return f"""
    g{k} AS (
      SELECT CAST(sum(c.x * (1000000 * c.kb
               - CAST(round(1000000.0 * c.nb * {sg}) AS BIGINT)))
               AS HUGEINT) AS ga,
             CAST(sum(1000000 * c.kb
               - CAST(round(1000000.0 * c.nb * {sg}) AS BIGINT))
               AS HUGEINT) AS gb,
             CAST(sum(c.x * c.x *
               CAST(round(1000000.0 * c.nb * {sg} * (1.0 - {sg}))
                    AS BIGINT)) AS HUGEINT) AS haa,
             CAST(sum(c.x *
               CAST(round(1000000.0 * c.nb * {sg} * (1.0 - {sg}))
                    AS BIGINT)) AS HUGEINT) AS hab,
             CAST(sum(
               CAST(round(1000000.0 * c.nb * {sg} * (1.0 - {sg}))
                    AS BIGINT)) AS HUGEINT) AS hbb
      FROM cells c CROSS JOIN p{k}),
    p{k + 1} AS (
      SELECT least({_PL_RANGE}, greatest(-{_PL_RANGE}, p{k}.a +
               least({_PL_CLAMP}, greatest(-{_PL_CLAMP}, CAST(
                 {_sh_sql('1000000 * (g.hbb * g.ga - g.hab * g.gb)',
                          'greatest(g.haa * g.hbb - g.hab * g.hab, 1)')}
                 AS BIGINT))))) AS a,
             least({_PL_RANGE}, greatest(-{_PL_RANGE}, p{k}.b +
               least({_PL_CLAMP}, greatest(-{_PL_CLAMP}, CAST(
                 {_sh_sql('1000000 * (g.haa * g.gb - g.hab * g.ga)',
                          'greatest(g.haa * g.hbb - g.hab * g.hab, 1)')}
                 AS BIGINT))))) AS b
      FROM p{k} CROSS JOIN g{k} g)"""


def _pl_oracle() -> str:
    steps = "".join("," + _pl_step_sql(k) for k in range(_PL_ITERS))
    last = _PL_ITERS
    fsig = _pl_sig_sql("p.a", "p.b", "c.x")
    return f"""
    WITH raw AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN ({token_hash_sql('props')}) % 10000
                  < CAST(round(value * 100) AS BIGINT)
                  THEN 1 ELSE 0 END AS y
      FROM events),
    cells AS (
      SELECT cents // 1000 AS x, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(y) AS BIGINT) AS kb
      FROM raw GROUP BY 1),
    p0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b)
    {steps}
    SELECT p.a / 1000000.0 AS slope_a, p.b / 1000000.0 AS intercept_b,
           CAST(sum(c.nb) AS BIGINT) AS n,
           {_half_up_sql('1000000 * sum(c.kb)', 'sum(c.nb)')} / 1000000.0
             AS base_rate,
           {_half_up_sql(
               'sum(CAST(round(1000000.0 * c.nb * ' + fsig
               + ') AS BIGINT))', 'sum(c.nb)')} / 1000000.0
             AS mean_calibrated_p
    FROM cells c CROSS JOIN p{last} p
    GROUP BY p.a, p.b
    """


@query("q_platt_scaling", oracle=_pl_oracle())
def q_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X727 — Platt scaling (Platt 1999): fit P(y=1|s) = σ(A·s + B)
    over a classifier's raw scores — THE standard parametric
    calibrator (the non-parametric alternative is X-isotonic), and
    the exact shape of LLM-judge / quality-classifier probability
    calibration. Scores are binned (cents/1000 — state bounded by the
    value range, not the corpus), labels are a deterministic
    score-correlated Bernoulli, and (A, B) are fitted by
    {_PL_ITERS} full Newton rounds with an exact 2×2 integer solve:
    per-cell σ terms quantized micro BEFORE sums (the X708
    discipline), gradient/Hessian exact integers (int128: HUGEINT /
    Python), Δ = H⁻¹g via the adjugate over a determinant ratio —
    clamped and range-limited like X708.

    A well-calibrated fit makes mean_calibrated_p ≈ base_rate (the
    first Platt sanity check) — both reported.

    Scale: the corpus-sized work is ONE combinable (bin → n, k)
    aggregate; the fit is fixed-size driver math."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    raw = e.select(
        cents.alias("cents"),
        (
            (token_hash(F.col("props")) % 10000) < cents
        ).cast("int").alias("y"),
    )
    cells = (
        raw.groupBy(F.expr("cents div 1000").alias("x"))
        .agg(
            F.count("*").cast("long").alias("nb"),
            F.sum("y").cast("long").alias("kb"),
        )
        .collect()
    )
    import math

    grid = [(int(r["x"]), int(r["nb"]), int(r["kb"])) for r in cells]

    def q6(v: float) -> int:
        return int(math.floor(1000000.0 * v + 0.5))

    def sh(a: int, b: int) -> int:
        m = (2 * abs(a) + b) // (2 * b)
        return m if a >= 0 else -m

    def clamp(v: int, lim: int) -> int:
        return max(-lim, min(lim, v))

    a = b = 0
    for _ in range(_PL_ITERS):
        ga = gb = haa = hab = hbb = 0
        for x, nb, kb in grid:
            s = 1.0 / (1.0 + math.exp(-((a * x + b) / 1000000.0)))
            ns6 = q6(nb * s)
            w6 = q6(nb * s * (1.0 - s))
            ga += x * (1000000 * kb - ns6)
            gb += 1000000 * kb - ns6
            haa += x * x * w6
            hab += x * w6
            hbb += w6
        det = max(haa * hbb - hab * hab, 1)
        a = clamp(
            a + clamp(sh(1000000 * (hbb * ga - hab * gb), det), _PL_CLAMP),
            _PL_RANGE,
        )
        b = clamp(
            b + clamp(sh(1000000 * (haa * gb - hab * ga), det), _PL_CLAMP),
            _PL_RANGE,
        )
    n = sum(nb for _, nb, _ in grid)
    ksum = sum(kb for _, _, kb in grid)
    cal6 = 0
    for x, nb, _ in grid:
        s = 1.0 / (1.0 + math.exp(-((a * x + b) / 1000000.0)))
        cal6 += q6(nb * s)
    hu = lambda p, q: (2 * p + q) // (2 * q)  # noqa: E731
    row = (
        a / 1000000.0,
        b / 1000000.0,
        n,
        hu(1000000 * ksum, n) / 1000000.0,
        hu(cal6, n) / 1000000.0,
    )
    return local_frame(
        spark,
        [row],
        "slope_a double, intercept_b double, n long, "
        "base_rate double, mean_calibrated_p double",
    )


# ---------------------------------------------------------------------------
# X729 — confident learning (label-error detection)
# ---------------------------------------------------------------------------

_CL_DIMS = 16

_CL_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE len(embedding) >= {_CL_DIMS}),
    x AS (
      SELECT vec_id, label, d.k,
             CAST(round(CAST(embedding[d.k + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS x4
      FROM e CROSS JOIN (SELECT unnest(range({_CL_DIMS})) AS k) d),
    cent AS (
      SELECT label AS j, k, CAST(sum(x4) AS BIGINT) AS s
      FROM x GROUP BY label, k),
    cnorm AS (
      SELECT j, sum(s * s) AS q FROM cent GROUP BY j),
    xnorm AS (
      SELECT vec_id, sum(x4 * x4) AS qx FROM x GROUP BY vec_id),
    dots AS (
      SELECT x.vec_id, x.label, c.j, sum(x.x4 * c.s) AS num
      FROM x JOIN cent c ON c.k = x.k
      GROUP BY x.vec_id, x.label, c.j),
    score AS (
      SELECT d.vec_id, d.label, d.j,
             CAST(round(1000000.0 * d.num
                  / (sqrt(CAST(xn.qx AS DOUBLE))
                     * sqrt(CAST(cn.q AS DOUBLE)))) AS BIGINT) AS s6
      FROM dots d
      JOIN xnorm xn ON xn.vec_id = d.vec_id
      JOIN cnorm cn ON cn.j = d.j
      WHERE xn.qx > 0),
    thr AS (
      SELECT j, {_half_up_sql('sum(s6)', 'count(*)')} AS t6
      FROM score WHERE label = j GROUP BY j),
    cand AS (
      SELECT s.vec_id, s.label, s.j, s.s6,
             row_number() OVER (PARTITION BY s.vec_id
                                ORDER BY s.s6 DESC, s.j) AS rk
      FROM score s JOIN thr t ON t.j = s.j AND s.s6 >= t.t6),
    star AS (
      SELECT vec_id, label AS noisy, j AS ystar
      FROM cand WHERE rk = 1)
    SELECT CAST(noisy AS BIGINT) AS noisy_label,
           CAST(ystar AS BIGINT) AS suspected_label,
           CAST(count(*) AS BIGINT) AS n
    FROM star WHERE noisy <> ystar
    GROUP BY noisy, ystar ORDER BY noisy, ystar
    """


@query("q_confident_learning", oracle=_CL_ORACLE)
def q_confident_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X729 — confident learning (Northcutt et al. 2021, cleanlab's
    core): estimate WHICH examples carry label errors by comparing
    each example's class-confidence against per-class average
    self-confidence thresholds t_j, then counting the off-diagonal of
    the confident joint — here confidence = cosine to the class
    centroid (the nearest-class-mean classifier, the deterministic
    stand-in for model probabilities). An example whose best
    above-threshold class differs from its given label is a suspected
    label error — the off-diagonal (noisy, suspected) counts are the
    output (cleanlab prunes these before training).

    Determinism: centroids are exact integer sums; cosines are one
    sqrt on exact integer dot/norms, quantized micro per (example,
    class) BEFORE thresholds (half-up class means) and the integer
    argmax (tiebreak by class id).

    Scale: centroid build is one combinable aggregate (L·d cells);
    scoring joins every example against the BOUNDED centroid table —
    corpus-linear, no pairwise example join (vs kNN-based error
    detection); thresholds are L scalars."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _CL_DIMS
    )
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.slice("embedding", 1, _CL_DIMS)).alias("k", "ev"),
    ).select(
        "vec_id",
        "label",
        "k",
        F.round(F.col("ev").cast("double") * 10000).cast("long").alias("x4"),
    )
    cent = x.groupBy(F.col("label").alias("j"), "k").agg(
        F.sum("x4").alias("s")
    )
    cnorm = cent.groupBy("j").agg(F.sum(F.col("s") * F.col("s")).alias("q"))
    xnorm = x.groupBy("vec_id").agg(
        F.sum(F.col("x4") * F.col("x4")).alias("qx")
    )
    dots = (
        x.join(F.broadcast(cent), "k")
        .groupBy("vec_id", "label", "j")
        .agg(F.sum(F.col("x4") * F.col("s")).alias("num"))
    )
    score = (
        dots.join(xnorm, "vec_id")
        .join(F.broadcast(cnorm), "j")
        .filter(F.col("qx") > 0)
        .select(
            "vec_id",
            "label",
            "j",
            F.round(
                1000000.0
                * F.col("num")
                / (
                    F.sqrt(F.col("qx").cast("double"))
                    * F.sqrt(F.col("q").cast("double"))
                )
            )
            .cast("long")
            .alias("s6"),
        )
    )
    thr = (
        score.filter(F.col("label") == F.col("j"))
        .groupBy("j")
        .agg(_half_up_col("sum(s6)", "count(*)").alias("t6"))
    )
    cand = (
        score.join(F.broadcast(thr), "j")
        .filter(F.col("s6") >= F.col("t6"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("s6"), "j")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return (
        cand.filter(F.col("label") != F.col("j"))
        .groupBy(
            F.col("label").cast("long").alias("noisy_label"),
            F.col("j").cast("long").alias("suspected_label"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("noisy_label", "suspected_label")
    )


# ---------------------------------------------------------------------------
# X733 — Cox proportional hazards (1-covariate partial-likelihood fit)
# ---------------------------------------------------------------------------

_COX_ITERS = 3
_COX_CLAMP = 250000  # micro
_COX_RANGE = 500000  # |β| ≤ 0.5 keeps w6 = 1e6·e^{βx} ≤ ~9e7 (x ≤ 9)


def _cox_round_sql(k: int) -> str:
    w = f"CAST(round(1000000.0 * exp(b{k}.beta * u.x / 1000000.0)) AS BIGINT)"
    return f"""
    w{k} AS (
      SELECT u.user_id, u.t, u.d, u.x, {w} AS w6
      FROM units u CROSS JOIN b{k}),
    r{k} AS (
      SELECT t,
             sum(sum(w6)) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS s0,
             sum(sum(x * w6)) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS s1,
             sum(sum(x * x * w6)) OVER (ORDER BY t DESC
               ROWS UNBOUNDED PRECEDING) AS s2
      FROM w{k} GROUP BY t),
    gh{k} AS (
      SELECT sum(1000000 * w.x - {_sh_sql('1000000 * r.s1', 'r.s0')})
               AS grad6,
             sum({_sh_sql('1000000 * r.s2', 'r.s0')}
                 - {_sh_sql(
                     _sh_sql('1000000 * r.s1', 'r.s0')
                     + ' * ' + _sh_sql('1000000 * r.s1', 'r.s0'),
                     '1000000')}) AS hess6
      FROM w{k} w JOIN r{k} r ON r.t = w.t
      WHERE w.d = 1),
    b{k + 1} AS (
      SELECT least({_COX_RANGE}, greatest(-{_COX_RANGE}, b{k}.beta +
               least({_COX_CLAMP}, greatest(-{_COX_CLAMP},
                 {_sh_sql('1000000 * g.grad6', 'greatest(g.hess6, 1)')}
               )))) AS beta
      FROM b{k} CROSS JOIN gh{k} g)"""


def _cox_oracle() -> str:
    steps = "".join("," + _cox_round_sql(k) for k in range(_COX_ITERS))
    last = _COX_ITERS
    return f"""
    WITH units AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS t,
             max(CASE WHEN rn = 1 AND event_type = 'error'
                      THEN 1 ELSE 0 END) AS d,
             CAST(user_id % 10 AS BIGINT) AS x
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      GROUP BY user_id),
    b0 AS (SELECT CAST(0 AS BIGINT) AS beta)
    {steps}
    SELECT b.beta / 1000000.0 AS beta,
           round(exp(b.beta / 1000000.0), 6) AS hazard_ratio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(u.d) AS BIGINT) AS n_events
    FROM units u CROSS JOIN b{last} b
    GROUP BY b.beta
    """


@query("q_cox_ph", oracle=_cox_oracle())
def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X733 — Cox proportional hazards (Cox 1972), the inferential
    backbone of churn/survival/retention analysis: fit the hazard
    h(t|x) = h₀(t)·e^{βx} by partial likelihood — no baseline hazard
    ever estimated, the term that made it the most-cited statistics
    paper. Units = users (duration = event count, "death" = last
    event is an 'error', covariate x = user_id mod 10); Breslow ties.
    β by {_COX_ITERS} Newton rounds: per round, per-unit weights
    w6 = round(1e6·e^{{βx}}) (libm on identical doubles — β is an
    integer-micro SCALAR), risk-set suffix sums S0/S1/S2 over the
    duration-descending window are exact integer sums, and the
    gradient Σ_events(x − S1/S0) / Hessian Σ_events(S2/S0 − (S1/S0)²)
    are per-event half-up micro terms — the X687 split: corpus-sized
    work distributed, ONE scalar collected per round.

    Scale: each round is a combinable per-duration aggregate + a
    duration-bounded window + a scalar reduce; 3 rounds = 3 passes,
    no per-unit state on the driver."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    units = (
        e.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("t"),
            F.max(
                F.when(
                    F.col("rn") == 1,
                    (F.col("event_type") == "error").cast("int"),
                )
            ).alias("d"),
            F.first(F.col("user_id") % 10).cast("long").alias("x"),
        )
    ).localCheckpoint(eager=True)

    beta = 0
    for _ in range(_COX_ITERS):
        wdf = units.select(
            "t",
            "d",
            "x",
            F.round(
                1000000.0 * F.exp(F.lit(beta) * F.col("x") / 1000000.0)
            )
            .cast("long")
            .alias("w6"),
        )
        per_t = wdf.groupBy("t").agg(
            F.sum("w6").alias("sw"),
            F.sum(F.col("x") * F.col("w6")).alias("sxw"),
            F.sum(F.col("x") * F.col("x") * F.col("w6")).alias("sxxw"),
        )
        wt = W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0)
        risk = per_t.select(
            "t",
            F.sum("sw").over(wt).alias("s0"),
            F.sum("sxw").over(wt).alias("s1"),
            F.sum("sxxw").over(wt).alias("s2"),
        )
        u6 = _sh_col("1000000 * s1", "s0")
        gh = (
            wdf.filter(F.col("d") == 1)
            .join(risk, "t")
            .select(
                (1000000 * F.col("x") - u6).alias("g"),
                (
                    _sh_col("1000000 * s2", "s0")
                    - _sh_col(
                        "(CASE WHEN (1000000 * s1) >= 0 THEN (2 * (1000000 * s1) + (s0)) div (2 * (s0)) ELSE -((2 * (-(1000000 * s1)) + (s0)) div (2 * (s0))) END) * (CASE WHEN (1000000 * s1) >= 0 THEN (2 * (1000000 * s1) + (s0)) div (2 * (s0)) ELSE -((2 * (-(1000000 * s1)) + (s0)) div (2 * (s0))) END)",
                        "1000000",
                    )
                ).alias("h"),
            )
            .agg(F.sum("g").alias("grad6"), F.sum("h").alias("hess6"))
            .collect()[0]
        )
        grad6, hess6 = int(gh["grad6"]), max(int(gh["hess6"]), 1)

        def sh(a: int, b: int) -> int:
            m = (2 * abs(a) + b) // (2 * b)
            return m if a >= 0 else -m

        step = max(-_COX_CLAMP, min(_COX_CLAMP, sh(1000000 * grad6, hess6)))
        beta = max(-_COX_RANGE, min(_COX_RANGE, beta + step))

    import math

    stats = units.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("n_events"),
    ).collect()[0]
    return local_frame(
        spark,
        [
            (
                beta / 1000000.0,
                round(math.exp(beta / 1000000.0), 6),
                int(stats["n"]),
                int(stats["n_events"]),
            )
        ],
        "beta double, hazard_ratio double, n long, n_events long",
    )
