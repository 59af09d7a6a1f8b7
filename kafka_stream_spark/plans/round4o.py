"""Round-4 batch O: model-evaluation + in-warehouse modeling
completions (X369-X376).

The reference's scoring dict (kafka_s.py score→label decode) is a
one-rule classifier with no evaluation loop; a real pipeline grades its
classifiers inside the engine. This batch adds the evaluation surface
that X252/X254/X255 (ROC/Brier/PR) still missed — multiclass confusion
+ macro/micro F1, MCC, log-loss — plus multiple-testing control
(Benjamini-Hochberg over a per-user z-test battery, with a shared
closed-form normal CDF), partial correlation, closed-form ridge, and
clustering quality (simplified silhouette, Davies-Bouldin) over the
X56 k-means machinery. Everything is sufficient-statistics or
broadcast-centroid algebra: the widest shuffle in the batch is k×d
centroid rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import vq
from ..sources.tables import load
from .llm_ext import _KM_DIST_SQL, _sq_dist
from .registry import query

# ---------------------------------------------------------------------------
# X369 — multiclass confusion matrix with macro/micro F1
# ---------------------------------------------------------------------------

_PRED_SQL = """
      CASE WHEN value < 5 THEN 'error' WHEN value < 10 THEN 'view'
           WHEN value < 15 THEN 'click' WHEN value < 20 THEN 'signup'
           ELSE 'purchase' END
"""


@query(
    "q_confusion_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT event_type AS actual, {_PRED_SQL} AS pred FROM events
    ), classes AS (SELECT DISTINCT actual AS c FROM scored),
    per AS (
      SELECT c,
        (SELECT count(*) FROM scored WHERE actual = c AND pred = c) AS tp,
        (SELECT count(*) FROM scored WHERE actual <> c AND pred = c) AS fp,
        (SELECT count(*) FROM scored WHERE actual = c AND pred <> c) AS fn
      FROM classes
    ), m AS (
      SELECT c, tp, fp, fn,
             tp * 1.0 / nullif(tp + fp, 0) AS p,
             tp * 1.0 / nullif(tp + fn, 0) AS r
      FROM per
    )
    SELECT c AS class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(coalesce(p, 0), 6) AS precision_c,
           round(coalesce(r, 0), 6) AS recall_c,
           round(coalesce(2 * p * r / nullif(p + r, 0), 0), 6) AS f1
    FROM m
    UNION ALL
    SELECT '__macro__', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
           CAST(sum(fn) AS BIGINT),
           round(avg(coalesce(p, 0)), 6), round(avg(coalesce(r, 0)), 6),
           round(avg(coalesce(2 * p * r / nullif(p + r, 0), 0)), 6)
    FROM m
    """,
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X369 — multiclass confusion rollup for a deterministic
    value-band classifier against the true event_type: per-class
    TP/FP/FN with precision/recall/F1, plus a '__macro__' row with
    macro-averaged scores (the imbalance-honest average; micro-F1 for
    single-label multiclass equals accuracy and is derivable from the
    summed cells). One grouped count over (actual, pred) — the k×k
    cell table — then pure driver-free algebra on ≤k² rows."""
    scored = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("actual"),
        F.when(F.col("value") < 5, "error")
        .when(F.col("value") < 10, "view")
        .when(F.col("value") < 15, "click")
        .when(F.col("value") < 20, "signup")
        .otherwise("purchase")
        .alias("pred"),
    )
    cells = scored.groupBy("actual", "pred").agg(F.count("*").alias("n"))
    classes = cells.select(F.col("actual").alias("c")).distinct()
    per = (
        classes.join(
            cells.filter(F.col("actual") == F.col("pred"))
            .select(F.col("actual").alias("c"), F.col("n").alias("tp")),
            "c",
            "left",
        )
        .join(
            cells.filter(F.col("actual") != F.col("pred"))
            .groupBy(F.col("pred").alias("c"))
            .agg(F.sum("n").alias("fp")),
            "c",
            "left",
        )
        .join(
            cells.filter(F.col("actual") != F.col("pred"))
            .groupBy(F.col("actual").alias("c"))
            .agg(F.sum("n").alias("fn")),
            "c",
            "left",
        )
        .select(
            "c",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    p = F.col("tp") * 1.0 / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    r = F.col("tp") * 1.0 / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    m = per.select(
        "c", "tp", "fp", "fn", p.alias("p"), r.alias("r")
    ).withColumn(
        "f1",
        2 * F.col("p") * F.col("r")
        / F.nullif(F.col("p") + F.col("r"), F.lit(0.0)),
    )
    rows = m.select(
        F.col("c").alias("class"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(F.coalesce("p", F.lit(0.0)), 6).alias("precision_c"),
        F.round(F.coalesce("r", F.lit(0.0)), 6).alias("recall_c"),
        F.round(F.coalesce("f1", F.lit(0.0)), 6).alias("f1"),
    )
    macro = m.agg(
        F.lit("__macro__").alias("class"),
        F.sum("tp").cast("long").alias("tp"),
        F.sum("fp").cast("long").alias("fp"),
        F.sum("fn").cast("long").alias("fn"),
        F.round(F.avg(F.coalesce("p", F.lit(0.0))), 6).alias(
            "precision_c"
        ),
        F.round(F.avg(F.coalesce("r", F.lit(0.0))), 6).alias("recall_c"),
        F.round(F.avg(F.coalesce("f1", F.lit(0.0))), 6).alias("f1"),
    )
    return rows.unionByName(macro)


# ---------------------------------------------------------------------------
# X370 — Matthews correlation + balanced accuracy
# ---------------------------------------------------------------------------


@query(
    "q_mcc",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN value > 10 THEN 1 ELSE 0 END AS pred,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), cells AS (
      SELECT CAST(sum(CASE WHEN pred=1 AND y=1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tp,
             CAST(sum(CASE WHEN pred=1 AND y=0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fp,
             CAST(sum(CASE WHEN pred=0 AND y=1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fn,
             CAST(sum(CASE WHEN pred=0 AND y=0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tn
      FROM scored
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           round((tp + tn) / (tp + tn + fp + fn), 6) AS accuracy,
           round((tp / (tp + fn) + tn / (tn + fp)) / 2, 6)
             AS balanced_acc,
           round(tp / (tp + fn) + tn / (tn + fp) - 1, 6) AS youden_j,
           round((tp * tn - fp * fn)
                 / sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
                 6) AS mcc
    FROM cells
    """,
)
def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X370 — Matthews correlation coefficient (with balanced accuracy
    and Youden's J) for the binary value>10 → purchase screen: MCC is
    the chance-corrected single number that survives the class
    imbalance X252's AUC averages over and plain accuracy hides —
    the phi coefficient of the 2×2 table. One scalar fold; double
    cells before the product to dodge integer overflow at scale."""
    scored = load(spark, sf_dir, "events").select(
        (F.col("value") > 10).cast("int").alias("pred"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cells = scored.agg(
        F.sum(((F.col("pred") == 1) & (F.col("y") == 1)).cast("int"))
        .cast("double")
        .alias("tp"),
        F.sum(((F.col("pred") == 1) & (F.col("y") == 0)).cast("int"))
        .cast("double")
        .alias("fp"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 1)).cast("int"))
        .cast("double")
        .alias("fn"),
        F.sum(((F.col("pred") == 0) & (F.col("y") == 0)).cast("int"))
        .cast("double")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cells.select(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round((tp + tn) / (tp + tn + fp + fn), 6).alias("accuracy"),
        F.round((tp / (tp + fn) + tn / (tn + fp)) / 2, 6).alias(
            "balanced_acc"
        ),
        F.round(tp / (tp + fn) + tn / (tn + fp) - 1, 6).alias("youden_j"),
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
            6,
        ).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# X371 — log loss (binary cross-entropy) vs the prior baseline
# ---------------------------------------------------------------------------


@query(
    "q_log_loss",
    oracle="""
    WITH scored AS (
      SELECT least(greatest(value / 30.0, 0.001), 0.999) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ), s AS (
      SELECT count(*) AS n, avg(y) AS prior,
             -avg(y * ln(p) + (1 - y) * ln(1 - p)) AS ll
      FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n, round(prior, 6) AS prior,
           round(ll, 6) AS log_loss,
           round(-(prior * ln(prior)
                   + (1 - prior) * ln(1 - prior)), 6) AS baseline_ll,
           round(1 - ll / -(prior * ln(prior)
                            + (1 - prior) * ln(1 - prior)), 6) AS skill
    FROM s
    """,
)
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X371 — binary cross-entropy of the value/30 pseudo-probability
    against the purchase label, with the class-prior baseline and the
    skill score (1 - LL/LL_baseline) — the PROPER scoring rule
    companion to X254's Brier/ECE (log-loss punishes confident wrong
    answers unboundedly, which is why training optimizes it).
    Probabilities clamped to [0.001, 0.999] identically in both
    engines; one scalar fold."""
    scored = load(spark, sf_dir, "events").select(
        F.least(
            F.greatest(F.col("value") / 30.0, F.lit(0.001)), F.lit(0.999)
        ).alias("p"),
        (F.col("event_type") == "purchase").cast("double").alias("y"),
    )
    s = scored.agg(
        F.count("*").alias("n"),
        F.avg("y").alias("prior"),
        (
            -F.avg(
                F.col("y") * F.log("p")
                + (1 - F.col("y")) * F.log(1 - F.col("p"))
            )
        ).alias("ll"),
    )
    base = -(
        F.col("prior") * F.log("prior")
        + (1 - F.col("prior")) * F.log(1 - F.col("prior"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round("prior", 6).alias("prior"),
        F.round("ll", 6).alias("log_loss"),
        F.round(base, 6).alias("baseline_ll"),
        F.round(1 - F.col("ll") / base, 6).alias("skill"),
    )


# ---------------------------------------------------------------------------
# X372 — Benjamini-Hochberg FDR over a per-user test battery
# ---------------------------------------------------------------------------

# Abramowitz-Stegun 7.1.26 erf approximation (|err| < 1.5e-7), spelled
# identically in both engines so the p-values agree bit-for-bit after
# rounding.
_ERF_SQL = (
    "(1 - (0.254829592 * (1/(1 + 0.3275911 * ({z})/sqrt(2)))"
    " - 0.284496736 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 2)"
    " + 1.421413741 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 3)"
    " - 1.453152027 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 4)"
    " + 1.061405429 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 5))"
    " * exp(-(({z}) * ({z})) / 2))"
)


def _p_two_sided(z: Column) -> Column:
    """Two-sided normal p-value via the A&S 7.1.26 erf polynomial —
    pure Column arithmetic, mirrored by _ERF_SQL in oracles."""
    az = F.abs(z)
    t = 1 / (1 + 0.3275911 * az / F.sqrt(F.lit(2.0)))
    erf = 1 - (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    ) * F.exp(-(az * az) / 2)
    return 1 - erf


@query(
    "q_bh_fdr",
    oracle=f"""
    WITH g AS (SELECT avg(CASE WHEN event_type = 'purchase'
                               THEN 1.0 ELSE 0 END) AS p0 FROM events),
    u AS (
      SELECT user_id, count(*) AS n,
             avg(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END)
               AS rate
      FROM events GROUP BY user_id
    ), z AS (
      SELECT user_id, n, rate,
             (rate - g.p0) / sqrt(g.p0 * (1 - g.p0) / n) AS z
      FROM u CROSS JOIN g
    ), p AS (
      SELECT user_id, n, rate, z,
             round(1 - {_ERF_SQL.format(z='abs(z)')}, 8) AS pval
      FROM z
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY pval, user_id) AS i,
             count(*) OVER () AS m
      FROM p
    ), kstar AS (
      SELECT coalesce(max(CASE WHEN pval <= i * 0.05 / m
                               THEN i END), 0) AS k
      FROM ranked
    )
    SELECT r.user_id, CAST(r.n AS BIGINT) AS n, round(r.rate, 6) AS rate,
           round(r.z, 4) AS z, r.pval AS p_value,
           round(r.i * 0.05 / r.m, 8) AS bh_threshold,
           r.i <= k.k AS discovered
    FROM ranked r CROSS JOIN kstar k WHERE r.i <= 20
    """,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X372 — Benjamini-Hochberg FDR control over a battery of per-user
    two-proportion z-tests (each user's purchase rate vs the global):
    rank p ascending, k* = max{{i: p_i ≤ i·q/m}} at q=0.05, flag the
    step-up discoveries — the multiple-testing guard X199's single
    z-test needs the moment you run it per segment. p-values from the
    shared A&S erf polynomial (identical arithmetic both engines,
    rounded to 8 before ranking so the cut is deterministic). Emits
    the 20 smallest-p tests with their thresholds and flags. The
    battery table is one grouped rollup; ranking windows run over m
    (#users) rows, not events."""
    e = load(spark, sf_dir, "events")
    g = e.agg(
        F.avg((F.col("event_type") == "purchase").cast("double")).alias(
            "p0"
        )
    )
    u = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.avg((F.col("event_type") == "purchase").cast("double")).alias(
            "rate"
        ),
    )
    z = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n",
        "rate",
        (
            (F.col("rate") - F.col("p0"))
            / F.sqrt(F.col("p0") * (1 - F.col("p0")) / F.col("n"))
        ).alias("z"),
    )
    p = z.select(
        "user_id",
        "n",
        "rate",
        "z",
        F.round(_p_two_sided(F.col("z")), 8).alias("pval"),
    )
    wr = Window.orderBy("pval", "user_id")
    ranked = p.select(
        "*",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval") <= F.col("i") * 0.05 / F.col("m"),
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .filter(F.col("i") <= 20)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.round("rate", 6).alias("rate"),
            F.round("z", 4).alias("z"),
            F.col("pval").alias("p_value"),
            F.round(F.col("i") * 0.05 / F.col("m"), 8).alias(
                "bh_threshold"
            ),
            (F.col("i") <= F.col("k")).alias("discovered"),
        )
    )


# ---------------------------------------------------------------------------
# X373 — partial correlation
# ---------------------------------------------------------------------------


@query(
    "q_partial_corr",
    oracle="""
    WITH x AS (
      SELECT CAST(l_quantity AS DOUBLE) AS a,
             CAST(l_extendedprice AS DOUBLE) AS b,
             CAST(l_discount AS DOUBLE) AS c
      FROM lineitem
    ), m AS (
      SELECT count(*) AS n, avg(a) AS ma, avg(b) AS mb, avg(c) AS mc
      FROM x
    ), s AS (
      SELECT m.n,
             sum((a - ma) * (b - mb)) AS sab,
             sum((a - ma) * (c - mc)) AS sac,
             sum((b - mb) * (c - mc)) AS sbc,
             sum((a - ma) * (a - ma)) AS saa,
             sum((b - mb) * (b - mb)) AS sbb,
             sum((c - mc) * (c - mc)) AS scc
      FROM x CROSS JOIN m GROUP BY m.n
    ), r AS (
      SELECT n, sab / sqrt(saa * sbb) AS rab,
             sac / sqrt(saa * scc) AS rac,
             sbc / sqrt(sbb * scc) AS rbc
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n, round(rab, 6) AS r_ab,
           round(rac, 6) AS r_ac, round(rbc, 6) AS r_bc,
           round((rab - rac * rbc)
                 / sqrt((1 - rac * rac) * (1 - rbc * rbc)), 6)
             AS partial_r_ab_given_c
    FROM r
    """,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X373 — partial correlation of quantity and price CONTROLLING for
    discount: r_ab·c = (r_ab - r_ac·r_bc)/√((1-r_ac²)(1-r_bc²)) — the
    one-line deconfounder that says how much of X249's pairwise
    correlation survives holding the third variable fixed (the scalar
    special case of what X350 detects categorically). Centered
    cross-moments in one broadcast-combined pass; ULP-stable because
    both engines run the identical centered arithmetic."""
    x = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("a"),
        F.col("l_extendedprice").cast("double").alias("b"),
        F.col("l_discount").cast("double").alias("c"),
    )
    m = x.agg(
        F.count("*").alias("n"),
        F.avg("a").alias("ma"),
        F.avg("b").alias("mb"),
        F.avg("c").alias("mc"),
    )
    da, db, dc = (
        F.col("a") - F.col("ma"),
        F.col("b") - F.col("mb"),
        F.col("c") - F.col("mc"),
    )
    s = (
        x.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            F.sum(da * db).alias("sab"),
            F.sum(da * dc).alias("sac"),
            F.sum(db * dc).alias("sbc"),
            F.sum(da * da).alias("saa"),
            F.sum(db * db).alias("sbb"),
            F.sum(dc * dc).alias("scc"),
        )
    )
    rab = F.col("sab") / F.sqrt(F.col("saa") * F.col("sbb"))
    rac = F.col("sac") / F.sqrt(F.col("saa") * F.col("scc"))
    rbc = F.col("sbc") / F.sqrt(F.col("sbb") * F.col("scc"))
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(rab, 6).alias("r_ab"),
        F.round(rac, 6).alias("r_ac"),
        F.round(rbc, 6).alias("r_bc"),
        F.round(
            (rab - rac * rbc)
            / F.sqrt((1 - rac * rac) * (1 - rbc * rbc)),
            6,
        ).alias("partial_r_ab_given_c"),
    )


# ---------------------------------------------------------------------------
# X374 — closed-form ridge regression (standardized features)
# ---------------------------------------------------------------------------


@query(
    "q_ridge",
    oracle="""
    WITH x AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             CAST(l_discount AS DOUBLE) AS x2,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ), m AS (
      SELECT count(*) AS n, avg(x1) AS m1, avg(x2) AS m2, avg(y) AS my,
             sqrt(avg(x1 * x1) - avg(x1) * avg(x1)) AS sd1,
             sqrt(avg(x2 * x2) - avg(x2) * avg(x2)) AS sd2
      FROM x
    ), s AS (
      SELECT m.n, m.my, m.m1, m.m2, m.sd1, m.sd2,
             sum(((x1 - m1) / sd1) * ((x1 - m1) / sd1)) AS s11,
             sum(((x1 - m1) / sd1) * ((x2 - m2) / sd2)) AS s12,
             sum(((x2 - m2) / sd2) * ((x2 - m2) / sd2)) AS s22,
             sum(((x1 - m1) / sd1) * (y - my)) AS s1y,
             sum(((x2 - m2) / sd2) * (y - my)) AS s2y
      FROM x CROSS JOIN m
      GROUP BY m.n, m.my, m.m1, m.m2, m.sd1, m.sd2
    ), solved AS (
      SELECT n, my, m1, m2, sd1, sd2,
             (s1y * (s22 + 0.1 * n) - s2y * s12)
               / ((s11 + 0.1 * n) * (s22 + 0.1 * n) - s12 * s12) AS bz1,
             (s2y * (s11 + 0.1 * n) - s1y * s12)
               / ((s11 + 0.1 * n) * (s22 + 0.1 * n) - s12 * s12) AS bz2
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(bz1, 6) AS beta_std_quantity,
           round(bz2, 6) AS beta_std_discount,
           round(bz1 / sd1, 6) AS beta_quantity,
           round(bz2 / sd2, 6) AS beta_discount,
           round(my - bz1 / sd1 * m1 - bz2 / sd2 * m2, 4) AS intercept
    FROM solved
    """,
)
def q_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X374 — closed-form ridge regression (λ = 0.1·n on standardized
    features): β = (ZᵀZ + λI)⁻¹Zᵀy via the 2×2 Cramer solve — X322's
    OLS with the shrinkage that keeps the solve well-posed when
    features correlate (compare beta_std_* against q_ols_multi to see
    the shrinkage). Standardizing first is what makes one λ meaningful
    across features; coefficients are mapped back to raw scale and the
    intercept recovered from the means. Two broadcast-combined scans,
    scalar output."""
    x = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    m = x.agg(
        F.count("*").alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.sqrt(
            F.avg(F.col("x1") * F.col("x1")) - F.avg("x1") * F.avg("x1")
        ).alias("sd1"),
        F.sqrt(
            F.avg(F.col("x2") * F.col("x2")) - F.avg("x2") * F.avg("x2")
        ).alias("sd2"),
    )
    z1 = (F.col("x1") - F.col("m1")) / F.col("sd1")
    z2 = (F.col("x2") - F.col("m2")) / F.col("sd2")
    dy = F.col("y") - F.col("my")
    s = (
        x.crossJoin(F.broadcast(m))
        .groupBy("n", "my", "m1", "m2", "sd1", "sd2")
        .agg(
            F.sum(z1 * z1).alias("s11"),
            F.sum(z1 * z2).alias("s12"),
            F.sum(z2 * z2).alias("s22"),
            F.sum(z1 * dy).alias("s1y"),
            F.sum(z2 * dy).alias("s2y"),
        )
    )
    lam = 0.1 * F.col("n")
    det = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") * F.col("s12")
    bz1 = (F.col("s1y") * (F.col("s22") + lam) - F.col("s2y") * F.col("s12")) / det
    bz2 = (F.col("s2y") * (F.col("s11") + lam) - F.col("s1y") * F.col("s12")) / det
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(bz1, 6).alias("beta_std_quantity"),
        F.round(bz2, 6).alias("beta_std_discount"),
        F.round(bz1 / F.col("sd1"), 6).alias("beta_quantity"),
        F.round(bz2 / F.col("sd2"), 6).alias("beta_discount"),
        F.round(
            F.col("my")
            - bz1 / F.col("sd1") * F.col("m1")
            - bz2 / F.col("sd2") * F.col("m2"),
            4,
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# X375/X376 — clustering quality: simplified silhouette + Davies-Bouldin
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE_PREFIX = f"""
    WITH {vq.kmeans_ctes(k=8, iters=1)}, scored2 AS (
      SELECT e.vec_id, c.cid, round(sqrt({_KM_DIST_SQL}), 6) AS dist
      FROM embeddings e CROSS JOIN cent1 c
    ), own AS (
      SELECT vec_id, cid, dist AS a FROM (
        SELECT vec_id, cid, dist, row_number() OVER
          (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM scored2) WHERE rn = 1
    )
"""


@query(
    "q_silhouette",
    oracle=_CLUSTER_ORACLE_PREFIX
    + """
    , other AS (
      SELECT s.vec_id, min(s.dist) AS b
      FROM scored2 s JOIN own o ON s.vec_id = o.vec_id
      WHERE s.cid <> o.cid GROUP BY s.vec_id
    ), sil AS (
      SELECT o.cid, CASE WHEN greatest(o.a, t.b) = 0 THEN 0
                         ELSE (t.b - o.a) / greatest(o.a, t.b) END AS s
      FROM own o JOIN other t ON o.vec_id = t.vec_id
    )
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s), 6) AS mean_silhouette
    FROM sil GROUP BY cid
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X375 — simplified (centroid-based) silhouette over the X56
    k-means clustering (one Lloyd update from the deterministic init):
    a(i) = distance to own centroid, b(i) = distance to the nearest
    OTHER centroid, s = (b-a)/max(a,b), averaged per cluster. The
    centroid form is the one that scales — O(n·k) against broadcast
    centroids instead of O(n²) pairwise — and is the standard quality
    readout for an IVF coarse quantizer (low mean s ⇒ probe more
    lists). Distances rounded to 6 before the fold so both engines cut
    argmin ties identically."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent1 = vq.lloyd(e, k=8, iters=2)
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    scored2 = e.crossJoin(F.broadcast(cent1)).select(
        "vec_id",
        "cid",
        F.round(F.sqrt(_sq_dist(F.col("emb"), F.col("cvec"))), 6).alias(
            "dist"
        ),
    ).localCheckpoint(eager=True)
    own = (
        scored2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("own_cid"), F.col("dist").alias("a"))
    )
    other = (
        scored2.join(own, "vec_id")
        .filter(F.col("cid") != F.col("own_cid"))
        .groupBy("vec_id")
        .agg(F.min("dist").alias("b"))
    )
    sil = own.join(other, "vec_id").select(
        F.col("own_cid").alias("cid"),
        F.when(F.greatest("a", "b") == 0, 0.0)
        .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b"))
        .alias("s"),
    )
    return sil.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.avg("s"), 6).alias("mean_silhouette"),
    ).withColumnRenamed("cid", "cluster_id")


@query(
    "q_davies_bouldin",
    oracle=_CLUSTER_ORACLE_PREFIX
    + """
    , scat AS (
      SELECT cid, count(*) AS n, avg(a) AS s FROM own GROUP BY cid
    ), cd AS (
      SELECT a.cid AS ci, b.cid AS cj,
             round(sqrt(list_aggregate(list_transform(
               range(len(a.cvec)), i ->
               pow(a.cvec[i + 1] - b.cvec[i + 1], 2)), 'sum')), 6) AS m
      FROM cent1 a JOIN cent1 b ON a.cid <> b.cid
    ), r AS (
      SELECT cd.ci AS cid, max((si.s + sj.s) / cd.m) AS r_max
      FROM cd JOIN scat si ON si.cid = cd.ci
              JOIN scat sj ON sj.cid = cd.cj
      GROUP BY cd.ci
    )
    SELECT s.cid AS cluster_id, CAST(s.n AS BIGINT) AS n_vectors,
           round(s.s, 6) AS scatter, round(r.r_max, 6) AS r_max,
           round(avg(r.r_max) OVER (), 6) AS db_index
    FROM scat s JOIN r ON s.cid = r.cid
    """,
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X376 — Davies-Bouldin index over the same one-update k-means
    clustering as X375: per-cluster scatter S_i = mean member-centroid
    distance, separation M_ij = centroid-centroid distance, R_i =
    max_j (S_i+S_j)/M_ij, DB = mean R_i (lower = better separated).
    The k×k similarity matrix is tiny (k=8), so after the broadcast
    assignment pass everything is driver-free scalar algebra; the
    windowed DB mean runs over k rows."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent1 = vq.lloyd(e, k=8, iters=2).localCheckpoint(eager=True)
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    scored2 = e.crossJoin(F.broadcast(cent1)).select(
        "vec_id",
        "cid",
        F.round(F.sqrt(_sq_dist(F.col("emb"), F.col("cvec"))), 6).alias(
            "dist"
        ),
    )
    own = (
        scored2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", F.col("dist").alias("a"))
    )
    scat = own.groupBy("cid").agg(
        F.count("*").alias("n"), F.avg("a").alias("s")
    )
    ca = cent1.select(F.col("cid").alias("ci"), F.col("cvec").alias("va"))
    cb = cent1.select(F.col("cid").alias("cj"), F.col("cvec").alias("vb"))
    cd = (
        ca.crossJoin(cb)
        .filter(F.col("ci") != F.col("cj"))
        .select(
            "ci",
            "cj",
            F.round(
                F.sqrt(_sq_dist(F.col("va"), F.col("vb"))), 6
            ).alias("m"),
        )
    )
    si = scat.select(F.col("cid").alias("ci"), F.col("s").alias("si"))
    sj = scat.select(F.col("cid").alias("cj"), F.col("s").alias("sj"))
    r = (
        cd.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .groupBy(F.col("ci").alias("cid"))
        .agg(F.max((F.col("si") + F.col("sj")) / F.col("m")).alias("r_max"))
    )
    out = scat.join(r, "cid").select(
        F.col("cid").alias("cluster_id"),
        F.col("n").cast("long").alias("n_vectors"),
        F.round("s", 6).alias("scatter"),
        F.round("r_max", 6).alias("r_max"),
        F.round(
            F.avg("r_max").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            6,
        ).alias("db_index"),
    )
    return out
