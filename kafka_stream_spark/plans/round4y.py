"""Round-4 batch Y: evaluation completions + inequality + hitting
times (X443-X450).

Multilabel metrics and quadratic-weighted kappa finish the evaluation
shelf for the two label shapes X369's multiclass confusion can't score
(label SETS and ORDINAL grades); Cox calibration slope is the
two-parameter summary X254's ECE bins approximate; RMST integrates the
survival curve X198/X415 only draw; the zero-inflation score formalizes
what X384's Fano hints at; Atkinson adds the welfare-theoretic member
of the inequality shelf (X197 Gini, X263 Theil); truncated hitting
times complete X438's absorption pair; and the van-der-Waerden
normal-scores correlation ships a shared closed-form INVERSE normal
CDF (Acklam's rational approximation, spelled identically in both
engines) the way X372 shipped the forward CDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# shared inverse normal CDF (Acklam's approximation, |rel err| < 1.15e-9)
# ---------------------------------------------------------------------------

_ACK_A = [
    -3.969683028665376e01,
    2.209460984245205e02,
    -2.759285104469687e02,
    1.383577518672690e02,
    -3.066479806614716e01,
    2.506628277459239e00,
]
_ACK_B = [
    -5.447609879822406e01,
    1.615858368580409e02,
    -1.556989798598866e02,
    6.680131188771972e01,
    -1.328068155288572e01,
]
_ACK_C = [
    -7.784894002430293e-03,
    -3.223964580411365e-01,
    -2.400758277161838e00,
    -2.549732539343734e00,
    4.374664141464968e00,
    2.938163982698783e00,
]
_ACK_D = [
    7.784695709041462e-03,
    3.224671290700398e-01,
    2.445134137142996e00,
    3.754408661907416e00,
]
_P_LOW = 0.02425


def _horner(q: Column, coefs: list[float]) -> Column:
    out: Column = F.lit(coefs[0])
    for c in coefs[1:]:
        out = out * q + F.lit(c)
    return out


def probit(p: Column) -> Column:
    """Φ⁻¹(p) via Acklam's piecewise rational approximation — pure
    Column arithmetic, mirrored bit-for-bit by :func:`probit_sql`."""
    qc = p - 0.5
    rc = qc * qc
    central = (_horner(rc, _ACK_A) * qc) / (_horner(rc, _ACK_B) * rc + 1)
    ql = F.sqrt(-2 * F.log(p))
    low = _horner(ql, _ACK_C) / (_horner(ql, _ACK_D) * ql + 1)
    qh = F.sqrt(-2 * F.log(1 - p))
    high = -_horner(qh, _ACK_C) / (_horner(qh, _ACK_D) * qh + 1)
    return (
        F.when(p < _P_LOW, low)
        .when(p > 1 - _P_LOW, high)
        .otherwise(central)
    )


def _horner_sql(q: str, coefs: list[float]) -> str:
    out = repr(coefs[0])
    for c in coefs[1:]:
        out = f"(({out}) * ({q}) + {c!r})"
    return out


def probit_sql(p: str) -> str:
    """DuckDB twin of :func:`probit` (identical Horner chains)."""
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    central = (
        f"(({_horner_sql(rc, _ACK_A)}) * {qc})"
        f" / (({_horner_sql(rc, _ACK_B)}) * {rc} + 1)"
    )
    ql = f"sqrt(-2 * ln({p}))"
    low = (
        f"({_horner_sql(ql, _ACK_C)})"
        f" / (({_horner_sql(ql, _ACK_D)}) * ({ql}) + 1)"
    )
    qh = f"sqrt(-2 * ln(1 - ({p})))"
    high = (
        f"(-({_horner_sql(qh, _ACK_C)})"
        f" / (({_horner_sql(qh, _ACK_D)}) * ({qh}) + 1))"
    )
    return (
        f"CASE WHEN ({p}) < {_P_LOW} THEN {low} "
        f"WHEN ({p}) > {1 - _P_LOW} THEN {high} "
        f"ELSE {central} END"
    )


# ---------------------------------------------------------------------------
# X443 — multilabel evaluation
# ---------------------------------------------------------------------------


@query(
    "q_multilabel_eval",
    oracle="""
    WITH sess AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             count(*) AS ne, sum(value) AS tv, max(value) AS mv,
             count(DISTINCT event_type) AS nt,
             max(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS t_v,
             max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS t_c,
             max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS t_p,
             max(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS t_s
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT t_v, t_c, t_p, t_s,
             CASE WHEN ne > 2 THEN 1 ELSE 0 END AS p_v,
             CASE WHEN tv > 20 THEN 1 ELSE 0 END AS p_c,
             CASE WHEN mv > 25 THEN 1 ELSE 0 END AS p_p,
             CASE WHEN nt > 2 THEN 1 ELSE 0 END AS p_s
      FROM sess
    ), per AS (
      SELECT abs(t_v-p_v) + abs(t_c-p_c) + abs(t_p-p_p) + abs(t_s-p_s)
               AS ham,
             t_v*p_v + t_c*p_c + t_p*p_p + t_s*p_s AS inter,
             sign(t_v+p_v) + sign(t_c+p_c) + sign(t_p+p_p)
               + sign(t_s+p_s) AS uni,
             t_v+t_c+t_p+t_s AS n_true, p_v+p_c+p_p+p_s AS n_pred
      FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           round(avg(ham / 4.0), 6) AS hamming_loss,
           round(avg(CASE WHEN uni = 0 THEN 1.0
                          ELSE inter * 1.0 / uni END), 6)
             AS mean_jaccard,
           round(avg(CASE WHEN ham = 0 THEN 1.0 ELSE 0 END), 6)
             AS subset_accuracy,
           round(sum(inter) * 1.0 / sum(n_pred), 6) AS micro_precision,
           round(sum(inter) * 1.0 / sum(n_true), 6) AS micro_recall
    FROM per
    """,
)
def q_multilabel_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X443 — multilabel evaluation of a four-rule session labeler
    against the true event-type label SET per user-day: Hamming loss,
    example-mean Jaccard, subset (exact-match) accuracy, and
    micro-averaged precision/recall — the label-set metrics X369's
    single-label confusion cannot express (a session is view AND
    click AND purchase at once). One session rollup, scalar fold;
    empty-∪-empty counts as a perfect match per the standard
    convention."""
    sess = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count("*").alias("ne"),
            F.sum("value").alias("tv"),
            F.max("value").alias("mv"),
            F.countDistinct("event_type").alias("nt"),
            *[
                F.max((F.col("event_type") == et).cast("int")).alias(f"t_{al}")
                for et, al in [
                    ("view", "v"),
                    ("click", "c"),
                    ("purchase", "p"),
                    ("signup", "s"),
                ]
            ],
        )
    )
    scored = sess.select(
        "t_v",
        "t_c",
        "t_p",
        "t_s",
        (F.col("ne") > 2).cast("int").alias("p_v"),
        (F.col("tv") > 20).cast("int").alias("p_c"),
        (F.col("mv") > 25).cast("int").alias("p_p"),
        (F.col("nt") > 2).cast("int").alias("p_s"),
    )
    ham = sum(
        F.abs(F.col(f"t_{x}") - F.col(f"p_{x}")) for x in "vcps"
    )
    inter = sum(F.col(f"t_{x}") * F.col(f"p_{x}") for x in "vcps")
    uni = sum(
        F.signum(F.col(f"t_{x}") + F.col(f"p_{x}")) for x in "vcps"
    )
    n_true = sum(F.col(f"t_{x}") for x in "vcps")
    n_pred = sum(F.col(f"p_{x}") for x in "vcps")
    per = scored.select(
        ham.alias("ham"),
        inter.alias("inter"),
        uni.alias("uni"),
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
    )
    return per.agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.avg(F.col("ham") / 4.0), 6).alias("hamming_loss"),
        F.round(
            F.avg(
                F.when(F.col("uni") == 0, 1.0).otherwise(
                    F.col("inter") * 1.0 / F.col("uni")
                )
            ),
            6,
        ).alias("mean_jaccard"),
        F.round(
            F.avg(F.when(F.col("ham") == 0, 1.0).otherwise(0.0)), 6
        ).alias("subset_accuracy"),
        F.round(
            F.sum("inter") * 1.0 / F.sum("n_pred"), 6
        ).alias("micro_precision"),
        F.round(
            F.sum("inter") * 1.0 / F.sum("n_true"), 6
        ).alias("micro_recall"),
    )


# ---------------------------------------------------------------------------
# X444 — quadratic weighted kappa
# ---------------------------------------------------------------------------


@query(
    "q_qwk",
    oracle="""
    WITH sess AS (
      SELECT CASE WHEN sum(value) <= 15 THEN 1 WHEN sum(value) <= 30
                  THEN 2 WHEN sum(value) <= 60 THEN 3 ELSE 4 END AS a,
             CASE WHEN count(*) <= 1 THEN 1 WHEN count(*) <= 3 THEN 2
                  WHEN count(*) <= 5 THEN 3 ELSE 4 END AS b
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), o AS (
      SELECT a, b, count(*) AS n FROM sess GROUP BY a, b
    ), tot AS (SELECT sum(n) AS nn FROM o),
    ma AS (SELECT a, sum(n) AS na FROM o GROUP BY a),
    mb AS (SELECT b, sum(n) AS nb FROM o GROUP BY b),
    grid AS (
      SELECT ma.a, mb.b, ma.na, mb.nb,
             coalesce(o.n, 0) AS obs,
             ma.na * mb.nb * 1.0 / t.nn AS exp,
             pow(ma.a - mb.b, 2) / 9.0 AS w
      FROM ma CROSS JOIN mb CROSS JOIN tot t
      LEFT JOIN o ON o.a = ma.a AND o.b = mb.b
    )
    SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n_items,
           round(sum(w * obs) / sum(w * exp), 6) AS weighted_disagreement,
           round(1 - sum(w * obs) / sum(w * exp), 6) AS qwk
    FROM grid
    """,
)
def q_qwk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X444 — quadratic weighted kappa between two ordinal session
    graders (value-based vs activity-based 1-4 bands): κ_w = 1 −
    Σw·O / Σw·E with w_ij = (i−j)²/(k−1)² — the ordinal-agreement
    standard (essay scoring, medical grading) where X242's unweighted
    kappa treats a 1-vs-4 disagreement the same as 1-vs-2. One session
    rollup to a 4×4 observed grid, margins give E, literal algebra
    after."""
    sess = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum("value").alias("tv"), F.count("*").alias("ne"))
        .select(
            F.when(F.col("tv") <= 15, 1)
            .when(F.col("tv") <= 30, 2)
            .when(F.col("tv") <= 60, 3)
            .otherwise(4)
            .alias("a"),
            F.when(F.col("ne") <= 1, 1)
            .when(F.col("ne") <= 3, 2)
            .when(F.col("ne") <= 5, 3)
            .otherwise(4)
            .alias("b"),
        )
    )
    o = sess.groupBy("a", "b").agg(F.count("*").alias("n"))
    tot = o.agg(F.sum("n").alias("nn"))
    ma = o.groupBy("a").agg(F.sum("n").alias("na"))
    mb = o.groupBy("b").agg(F.sum("n").alias("nb"))
    grid = (
        ma.crossJoin(F.broadcast(mb))
        .crossJoin(F.broadcast(tot))
        .join(o, ["a", "b"], "left")
        .select(
            F.coalesce("n", F.lit(0)).alias("obs"),
            (F.col("na") * F.col("nb") * 1.0 / F.col("nn")).alias("exp"),
            (F.pow(F.col("a") - F.col("b"), 2) / 9.0).alias("w"),
            "nn",
        )
    )
    wd = F.sum(F.col("w") * F.col("obs")) / F.sum(
        F.col("w") * F.col("exp")
    )
    return grid.agg(
        F.any_value("nn").cast("long").alias("n_items"),
        F.round(wd, 6).alias("weighted_disagreement"),
        F.round(1 - wd, 6).alias("qwk"),
    )


# ---------------------------------------------------------------------------
# X445 — Cox calibration slope / intercept
# ---------------------------------------------------------------------------


@query(
    "q_cox_calibration",
    oracle="""
    WITH scored AS (
      SELECT least(greatest(value / 30.0, 0.001), 0.999) AS p,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0 END AS y
      FROM events
    ), lg AS (
      SELECT ln(p / (1 - p)) AS x, y FROM scored
    ), m AS (
      SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM lg
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((sxy - n * mx * my) / (sxx - n * mx * mx), 6)
             AS calibration_slope,
           round(my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx, 6)
             AS calibration_intercept,
           round(my, 6) AS base_rate
    FROM m
    """,
)
def q_cox_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X445 — Cox-style calibration slope and intercept: regress the
    binary outcome on the score's LOGIT (linear-probability form of
    Cox 1958's recalibration model — slope 1 / intercept 0 is perfect
    calibration, slope < 1 is the overconfidence signature). The
    two-parameter summary that X254's binned ECE approximates with a
    histogram, and the standard external-validation statistic for
    clinical models. One scalar fold."""
    scored = load(spark, sf_dir, "events").select(
        F.least(
            F.greatest(F.col("value") / 30.0, F.lit(0.001)), F.lit(0.999)
        ).alias("p"),
        (F.col("event_type") == "purchase").cast("double").alias("y"),
    )
    lg = scored.select(
        F.log(F.col("p") / (1 - F.col("p"))).alias("x"), "y"
    )
    m = lg.agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("calibration_slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias(
            "calibration_intercept"
        ),
        F.round("my", 6).alias("base_rate"),
    )


# ---------------------------------------------------------------------------
# X446 — restricted mean survival time
# ---------------------------------------------------------------------------


@query(
    "q_rmst",
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
    ), km AS (
      SELECT t, d,
             (SELECT count(*) FROM subj) -
             coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM by_t
    ), surv AS (
      SELECT t,
             exp(sum(ln(greatest(1.0 - CAST(d AS DOUBLE) / n_risk,
                                 1e-300)))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)) AS s
      FROM km WHERE d > 0
    ), segs AS (
      SELECT t, s,
             coalesce(lag(s) OVER (ORDER BY t), 1.0) AS s_prev,
             coalesce(lag(t) OVER (ORDER BY t), 0) AS t_prev
      FROM surv
    ), taus AS (SELECT unnest([7, 14, 30]) AS tau),
    rmst AS (
      SELECT taus.tau,
             sum(CASE WHEN segs.t_prev < taus.tau
                  THEN segs.s_prev
                       * (least(segs.t, taus.tau) - segs.t_prev)
                  ELSE 0 END) AS area_events,
             max(CASE WHEN segs.t <= taus.tau THEN segs.s END)
               AS s_at_last
      FROM taus CROSS JOIN segs
      GROUP BY taus.tau
    )
    SELECT CAST(r.tau AS BIGINT) AS tau_days,
           round(r.area_events
                 + coalesce(r.s_at_last, 1.0)
                   * greatest(r.tau - (SELECT max(t) FROM segs
                                       WHERE t <= r.tau), 0), 4)
             AS rmst_days
    FROM rmst r
    """,
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X446 — restricted mean survival time at τ ∈ {7, 14, 30} days
    for time-to-first-purchase: the area under the Kaplan-Meier curve
    up to τ (step integration: each inter-event segment contributes
    S_prev·Δt, plus the tail at the last S) — the censoring-robust
    'average days without purchase in the first τ' that mean survival
    can't give when the tail is censored, and the comparison scalar
    modern trials report instead of hazard ratios. Windows run over
    distinct event times only."""
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
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = by_t.crossJoin(F.broadcast(ntot)).withColumn(
        "n_risk",
        F.col("nn")
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)
        ),
    )
    surv = (
        km.filter(F.col("d") > 0)
        .withColumn(
            "s",
            F.exp(
                F.sum(
                    F.log(
                        F.greatest(
                            1.0
                            - F.col("d").cast("double")
                            / F.col("n_risk"),
                            F.lit(1e-300),
                        )
                    )
                ).over(wcum)
            ),
        )
        .select("t", "s")
    )
    wl = Window.orderBy("t")
    segs = surv.select(
        "t",
        "s",
        F.coalesce(F.lag("s").over(wl), F.lit(1.0)).alias("s_prev"),
        F.coalesce(F.lag("t").over(wl), F.lit(0)).alias("t_prev"),
    ).localCheckpoint(eager=True)
    taus = local_frame(spark, [(7,), (14,), (30,)], "tau long")
    rmst = (
        taus.crossJoin(segs)
        .groupBy("tau")
        .agg(
            F.sum(
                F.when(
                    F.col("t_prev") < F.col("tau"),
                    F.col("s_prev")
                    * (F.least("t", "tau") - F.col("t_prev")),
                ).otherwise(0.0)
            ).alias("area_events"),
            F.max(
                F.when(F.col("t") <= F.col("tau"), F.col("s"))
            ).alias("s_at_last"),
        )
    )
    last_t = (
        taus.crossJoin(segs)
        .filter(F.col("t") <= F.col("tau"))
        .groupBy("tau")
        .agg(F.max("t").alias("max_t"))
    )
    return (
        rmst.join(last_t, "tau", "left")
        .select(
            F.col("tau").cast("long").alias("tau_days"),
            F.round(
                F.col("area_events")
                + F.coalesce("s_at_last", F.lit(1.0))
                * F.greatest(
                    F.col("tau") - F.coalesce("max_t", F.lit(0)),
                    F.lit(0),
                ),
                4,
            ).alias("rmst_days"),
        )
    )


# ---------------------------------------------------------------------------
# X447 — zero-inflation score test
# ---------------------------------------------------------------------------


@query(
    "q_zero_inflation",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
             FROM events),
    grid AS (SELECT u.user_id, dd.d FROM users u CROSS JOIN days dd),
    cnt AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS k
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), dense AS (
      SELECT g.user_id, g.d, coalesce(c.k, 0) AS k
      FROM grid g LEFT JOIN cnt c
        ON g.user_id = c.user_id AND g.d = c.d
    ), s AS (
      SELECT count(*) AS n, avg(k) AS lam,
             avg(CASE WHEN k = 0 THEN 1.0 ELSE 0 END) AS p0_obs
      FROM dense
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           round(lam, 6) AS lambda_hat,
           round(p0_obs, 6) AS p0_observed,
           round(exp(-lam), 6) AS p0_poisson,
           round((p0_obs - exp(-lam))
                 / sqrt(exp(-lam) * (1 - exp(-lam)) / n), 4)
             AS zi_z_score
    FROM s
    """,
)
def q_zero_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X447 — zero-inflation score test on the DENSE user×day purchase
    grid (silent cells count as zeros — the densification X384's
    occupied-hours Fano deliberately skips): observed zero fraction vs
    the Poisson exp(−λ̂) with its binomial-approximation z — z >> 0
    says a hurdle/ZIP model is needed before any Poisson-based
    capacity figure. The grid is |users|×|days|, bounded and tiny next
    to events."""
    e = load(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    days = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    grid = users.crossJoin(days)
    cnt = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .agg(F.count("*").alias("k"))
    )
    dense = grid.join(cnt, ["user_id", "d"], "left").select(
        F.coalesce("k", F.lit(0)).alias("k")
    )
    s = dense.agg(
        F.count("*").alias("n"),
        F.avg("k").alias("lam"),
        F.avg(F.when(F.col("k") == 0, 1.0).otherwise(0.0)).alias(
            "p0_obs"
        ),
    )
    p0 = F.exp(-F.col("lam"))
    return s.select(
        F.col("n").cast("long").alias("n_units"),
        F.round("lam", 6).alias("lambda_hat"),
        F.round("p0_obs", 6).alias("p0_observed"),
        F.round(p0, 6).alias("p0_poisson"),
        F.round(
            (F.col("p0_obs") - p0)
            / F.sqrt(p0 * (1 - p0) / F.col("n")),
            4,
        ).alias("zi_z_score"),
    )


# ---------------------------------------------------------------------------
# X448 — Atkinson inequality index
# ---------------------------------------------------------------------------


@query(
    "q_atkinson",
    oracle="""
    WITH x AS (
      SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
    ), s AS (
      SELECT g, count(*) AS n, avg(v) AS m,
             avg(sqrt(v)) AS m_half,
             avg(ln(v)) AS m_log
      FROM x GROUP BY g
    )
    SELECT g AS priority, CAST(n AS BIGINT) AS n,
           round(m, 2) AS mean_value,
           round(1 - m_half * m_half / m, 6) AS atkinson_eps_05,
           round(1 - exp(m_log) / m, 6) AS atkinson_eps_1
    FROM s
    """,
)
def q_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X448 — Atkinson inequality index of order values per priority
    at ε=0.5 (A = 1 − (mean √x)²/mean) and ε=1 (A = 1 − geomean/mean):
    the welfare-theoretic member of the inequality shelf — unlike
    X197's Gini it states HOW MUCH total value society would give up
    for equality at aversion ε, and it is subgroup-decomposable where
    Gini is not (X263's Theil property). Pure one-pass moments."""
    x = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    s = x.groupBy("g").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("m"),
        F.avg(F.sqrt("v")).alias("m_half"),
        F.avg(F.log("v")).alias("m_log"),
    )
    return s.select(
        F.col("g").alias("priority"),
        F.col("n").cast("long").alias("n"),
        F.round("m", 2).alias("mean_value"),
        F.round(
            1 - F.col("m_half") * F.col("m_half") / F.col("m"), 6
        ).alias("atkinson_eps_05"),
        F.round(1 - F.exp("m_log") / F.col("m"), 6).alias(
            "atkinson_eps_1"
        ),
    )


# ---------------------------------------------------------------------------
# X449 — truncated expected hitting time
# ---------------------------------------------------------------------------


@query(
    "q_hitting_time",
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
    ), q AS (SELECT s, nxt, p FROM p WHERE nxt <> 'purchase'),
    h0 AS (SELECT DISTINCT s, 1.0 AS h FROM p),
    h1 AS (SELECT q.s, 1 + sum(q.p * h0.h) AS h
           FROM q JOIN h0 ON q.nxt = h0.s GROUP BY q.s),
    h2 AS (SELECT q.s, 1 + sum(q.p * h1.h) AS h
           FROM q JOIN h1 ON q.nxt = h1.s GROUP BY q.s),
    h3 AS (SELECT q.s, 1 + sum(q.p * h2.h) AS h
           FROM q JOIN h2 ON q.nxt = h2.s GROUP BY q.s),
    h4 AS (SELECT q.s, 1 + sum(q.p * h3.h) AS h
           FROM q JOIN h3 ON q.nxt = h3.s GROUP BY q.s),
    h5 AS (SELECT q.s, 1 + sum(q.p * h4.h) AS h
           FROM q JOIN h4 ON q.nxt = h4.s GROUP BY q.s),
    h6 AS (SELECT q.s, 1 + sum(q.p * h5.h) AS h
           FROM q JOIN h5 ON q.nxt = h5.s GROUP BY q.s)
    SELECT h6.s AS state, round(h5.h, 6) AS hitting_steps_k5,
           round(h6.h, 6) AS hitting_steps_k6,
           round(h6.h - h5.h, 6) AS iteration_delta
    FROM h6 JOIN h5 ON h6.s = h5.s
    """,
)
def q_hitting_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X449 — truncated expected hitting time to 'purchase' per
    transient state: h ← 1 + Q·h iterated 6 unrolled rounds from
    h₀ = 1 (the value-iteration form of h = (I−Q)⁻¹·1; session-end
    leak makes Q substochastic so the iterates increase toward the
    leak-absorbed expectation, and the printed per-iteration delta
    shows the remaining truncation). The 'HOW LONG to convert'
    companion to X438's 'WHETHER it converts'; together they are the
    fundamental-matrix pair. k²-row joins per round."""
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
    q = p.filter(F.col("nxt") != "purchase")
    h = p.select("s").distinct().withColumn("h", F.lit(1.0))
    prev_h = None
    for _ in range(6):
        prev_h = h
        h = (
            q.join(h.select(F.col("s").alias("nxt"), "h"), "nxt")
            .groupBy("s")
            .agg((F.lit(1.0) + F.sum(F.col("p") * F.col("h"))).alias("h"))
        )
    return (
        h.join(
            prev_h.select(F.col("s"), F.col("h").alias("h_prev")), "s"
        )
        .select(
            F.col("s").alias("state"),
            F.round("h_prev", 6).alias("hitting_steps_k5"),
            F.round("h", 6).alias("hitting_steps_k6"),
            F.round(F.col("h") - F.col("h_prev"), 6).alias(
                "iteration_delta"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X450 — van der Waerden normal-scores correlation
# ---------------------------------------------------------------------------


@query(
    "q_normal_scores_corr",
    oracle=f"""
    WITH x AS (
      SELECT CAST(l_quantity AS DOUBLE) AS a,
             CAST(l_extendedprice AS DOUBLE) AS b,
             l_orderkey, l_linenumber
      FROM lineitem
    ), ranked AS (
      SELECT row_number() OVER (ORDER BY a, l_orderkey, l_linenumber)
               AS ra,
             row_number() OVER (ORDER BY b, l_orderkey, l_linenumber)
               AS rb,
             count(*) OVER () AS n
      FROM x
    ), scores AS (
      SELECT {probit_sql('ra * 1.0 / (n + 1)')} AS za,
             {probit_sql('rb * 1.0 / (n + 1)')} AS zb,
             n
      FROM ranked
    ), m AS (
      SELECT any_value(n) AS n,
             sum(za * zb) AS sab, sum(za * za) AS saa,
             sum(zb * zb) AS sbb
      FROM scores
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(sab / sqrt(saa * sbb), 6) AS vdw_corr
    FROM m
    """,
)
def q_normal_scores_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X450 — van der Waerden normal-scores correlation between
    quantity and price: replace each value by Φ⁻¹(rank/(n+1)) and take
    Pearson on the scores — the rank statistic with full asymptotic
    efficiency under normality that X261's Spearman trades away, built
    on the shared closed-form INVERSE normal CDF (Acklam's rational
    approximation, bit-identical in both engines — the Φ⁻¹ companion
    to X372's forward-CDF polynomial). Deterministic dense ranks
    (value, orderkey, linenumber); scores are mean-zero by symmetry so
    no centering pass is needed."""
    x = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("a"),
        F.col("l_extendedprice").cast("double").alias("b"),
        "l_orderkey",
        "l_linenumber",
    )
    wa = Window.orderBy("a", "l_orderkey", "l_linenumber")
    wb = Window.orderBy("b", "l_orderkey", "l_linenumber")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = x.select(
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
        F.count("*").over(wall).alias("n"),
    )
    scores = ranked.select(
        probit(F.col("ra") * 1.0 / (F.col("n") + 1)).alias("za"),
        probit(F.col("rb") * 1.0 / (F.col("n") + 1)).alias("zb"),
        "n",
    )
    m = scores.agg(
        F.any_value("n").alias("n"),
        F.sum(F.col("za") * F.col("zb")).alias("sab"),
        F.sum(F.col("za") * F.col("za")).alias("saa"),
        F.sum(F.col("zb") * F.col("zb")).alias("sbb"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("sab") / F.sqrt(F.col("saa") * F.col("sbb")), 6
        ).alias("vdw_corr"),
    )
