"""Round-4 batch N: financial risk + technical-analysis operators
(X361-X368).

The reference consumes a feed of stock-exchange disclosures
(/root/reference/kafka_stream/kafka_s.py board literals); the analytics
engine around such a feed is asked for exactly this battery: historical
VaR / expected shortfall, Sharpe-family risk ratios, Bollinger / RSI /
SMA-crossover signals, anchored VWAP, Hurst long-memory, and Croston
intermittent-demand forecasts. Every operator reduces the fact table to
a DAILY (or weekly) series first — thousands of rows at any data scale —
so the global windows below run over an already-collapsed frame; the
only scan of the raw table is one map-side-combinable rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily net revenue series — the shared 'price' curve (one grouped
    scan of lineitem; ~2500 rows at every SF)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev")
        )
    )


_DAILY_SQL = """
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem GROUP BY 1
"""

# ---------------------------------------------------------------------------
# X361 — historical VaR + expected shortfall
# ---------------------------------------------------------------------------


@query(
    "q_var_cvar",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    ret AS (
      SELECT d, ln(rev / lag(rev) OVER (ORDER BY d)) AS r FROM daily
    ), r2 AS (
      SELECT d, r, row_number() OVER (ORDER BY r, d) AS rn
      FROM ret WHERE r IS NOT NULL
    ), n AS (SELECT count(*) AS n FROM r2),
    k AS (SELECT n, CAST(ceil(0.05 * n) AS BIGINT) AS kk FROM n)
    SELECT CAST(any_value(k.n) AS BIGINT) AS n_days,
           CAST(any_value(k.kk) AS BIGINT) AS k_tail,
           round(-max(r2.r), 6) AS var_95,
           round(-avg(r2.r), 6) AS cvar_95
    FROM r2 CROSS JOIN k WHERE r2.rn <= k.kk
    """,
)
def q_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X361 — historical 95% Value-at-Risk and CVaR (expected
    shortfall) on daily log-returns of net revenue: VaR = the
    ceil(0.05·n)-th worst return, CVaR = the mean of that tail — the
    coherent-risk-measure pair (Rockafellar-Uryasev) regulators ask for
    beyond X305's drawdown. Deterministic tail under ties (rank by
    (return, date)). The raw table collapses to ~2500 daily scalars
    before the single bounded sort."""
    daily = _daily_rev(spark, sf_dir)
    w = Window.orderBy("d")
    ret = daily.select(
        "d", F.log(F.col("rev") / F.lag("rev").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    n = ret.agg(F.count("*").alias("n"))
    k = n.select(
        "n", F.ceil(0.05 * F.col("n")).cast("long").alias("kk")
    )
    r2 = ret.select(
        "r", F.row_number().over(Window.orderBy("r", "d")).alias("rn")
    )
    return (
        r2.crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("kk"))
        .agg(
            F.any_value("n").cast("long").alias("n_days"),
            F.any_value("kk").cast("long").alias("k_tail"),
            F.round(-F.max("r"), 6).alias("var_95"),
            F.round(-F.avg("r"), 6).alias("cvar_95"),
        )
    )


# ---------------------------------------------------------------------------
# X362 — Sharpe / Sortino risk ratios
# ---------------------------------------------------------------------------


@query(
    "q_risk_ratios",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS g,
             CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem GROUP BY 1, 2
    ), ret AS (
      SELECT g, ln(rev / lag(rev) OVER (PARTITION BY g ORDER BY d)) AS r
      FROM daily
    ), s AS (
      SELECT g, count(*) AS n, avg(r) AS m, sum(r * r) AS ss,
             sum(CASE WHEN r < 0 THEN r * r ELSE 0 END) AS dss
      FROM ret WHERE r IS NOT NULL GROUP BY g
    )
    SELECT g AS series, CAST(n AS BIGINT) AS n_days,
           round(m, 6) AS mean_ret,
           round(sqrt((ss - n * m * m) / (n - 1)), 6) AS sd,
           round(sqrt(dss / n), 6) AS downside_dev,
           round(m / sqrt((ss - n * m * m) / (n - 1)) * sqrt(252), 6)
             AS sharpe_ann,
           round(m / sqrt(dss / n) * sqrt(252), 6) AS sortino_ann
    FROM s
    """,
)
def q_risk_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X362 — annualized Sharpe and Sortino ratios per return-flag
    series on daily log-returns: Sharpe = mean/sd·√252, Sortino
    divides by downside deviation (root mean squared NEGATIVE return,
    zero target) — the asymmetry X305's drawdown sees only in the
    extreme. Sample sd in explicit-moments form; one grouped rollup of
    the collapsed daily series, k scalar rows out."""
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("g"),
            F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("rev")
        )
    )
    w = Window.partitionBy("g").orderBy("d")
    ret = daily.select(
        "g", F.log(F.col("rev") / F.lag("rev").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    s = ret.groupBy("g").agg(
        F.count("*").alias("n"),
        F.avg("r").alias("m"),
        F.sum(F.col("r") * F.col("r")).alias("ss"),
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0)
        ).alias("dss"),
    )
    sd = F.sqrt(
        (F.col("ss") - F.col("n") * F.col("m") * F.col("m"))
        / (F.col("n") - 1)
    )
    dd = F.sqrt(F.col("dss") / F.col("n"))
    return s.select(
        F.col("g").alias("series"),
        F.col("n").cast("long").alias("n_days"),
        F.round("m", 6).alias("mean_ret"),
        F.round(sd, 6).alias("sd"),
        F.round(dd, 6).alias("downside_dev"),
        F.round(F.col("m") / sd * F.sqrt(F.lit(252.0)), 6).alias(
            "sharpe_ann"
        ),
        F.round(F.col("m") / dd * F.sqrt(F.lit(252.0)), 6).alias(
            "sortino_ann"
        ),
    )


# ---------------------------------------------------------------------------
# X363 — Bollinger bands with breakout flags
# ---------------------------------------------------------------------------


@query(
    "q_bollinger",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    r0 AS (SELECT d, round(rev, 2) AS rev FROM daily),
    win AS (
      SELECT d, rev,
             count(*) OVER w AS n, sum(rev) OVER w / 20 AS m,
             sum(rev * rev) OVER w AS ss
      FROM r0
      WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), bands AS (
      SELECT d, rev, m, sqrt((ss - n * m * m) / (n - 1)) AS sd
      FROM win WHERE n = 20
    )
    SELECT d, round(rev, 2) AS rev, round(m, 4) AS mid,
           round(m + 2 * sd, 4) AS upper_band,
           round(m - 2 * sd, 4) AS lower_band,
           CASE WHEN rev > m + 2 * sd THEN 'up' ELSE 'down' END AS side
    FROM bands
    WHERE rev > m + 2 * sd OR rev < m - 2 * sd
    """,
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X363 — Bollinger bands (20-day mean ± 2 trailing sd) over the
    daily revenue curve, emitting only the BREAKOUT days — the
    mean-reversion signal layer over X109's EWMA smoothing. The five
    window statistics share one trailing frame (single sort of the
    ~2500-row daily series); incomplete leading windows excluded."""
    daily = _daily_rev(spark, sf_dir).select(
        "d", F.round("rev", 2).alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(-19, 0)
    win = daily.select(
        "d",
        "rev",
        F.count("*").over(w).alias("n"),
        (F.sum("rev").over(w) / 20).alias("m"),
        F.sum(F.col("rev") * F.col("rev")).over(w).alias("ss"),
    ).filter(F.col("n") == 20)
    sd = F.sqrt(
        (F.col("ss") - F.col("n") * F.col("m") * F.col("m"))
        / (F.col("n") - 1)
    )
    bands = win.select("d", "rev", "m", sd.alias("sd"))
    up = F.col("m") + 2 * F.col("sd")
    lo = F.col("m") - 2 * F.col("sd")
    return bands.filter((F.col("rev") > up) | (F.col("rev") < lo)).select(
        "d",
        F.round("rev", 2).alias("rev"),
        F.round("m", 4).alias("mid"),
        F.round(up, 4).alias("upper_band"),
        F.round(lo, 4).alias("lower_band"),
        F.when(F.col("rev") > up, "up").otherwise("down").alias("side"),
    )


# ---------------------------------------------------------------------------
# X364 — RSI (Cutler's SMA variant) overbought/oversold signals
# ---------------------------------------------------------------------------


@query(
    "q_rsi",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    delta AS (
      SELECT d, rev - lag(rev) OVER (ORDER BY d) AS ch FROM daily
    ), gl AS (
      SELECT d,
             CASE WHEN ch > 0 THEN ch ELSE 0 END AS gain,
             CASE WHEN ch < 0 THEN -ch ELSE 0 END AS loss
      FROM delta WHERE ch IS NOT NULL
    ), win AS (
      SELECT d, count(*) OVER w AS n,
             avg(gain) OVER w AS ag, avg(loss) OVER w AS al
      FROM gl
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), rsi AS (
      SELECT d, CASE WHEN al = 0 THEN 100.0
                     ELSE 100.0 - 100.0 / (1 + ag / al) END AS rsi
      FROM win WHERE n = 14
    ), ranked AS (
      SELECT d, round(rsi, 4) AS rsi, row_number() OVER
               (ORDER BY abs(round(rsi, 4) - 50) DESC, d) AS rn
      FROM rsi
    )
    SELECT d, rsi,
           CASE WHEN rsi >= 70 THEN 'overbought'
                WHEN rsi <= 30 THEN 'oversold'
                ELSE 'neutral' END AS signal
    FROM ranked WHERE rn <= 10
    """,
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X364 — 14-day RSI (Cutler's simple-moving-average variant —
    window-expressible and deterministic, unlike Wilder's recursive
    smoothing whose EWMA analog lives in X109) with the classic 70/30
    overbought/oversold labels, emitting the 10 most extreme RSI days
    (rank on the rounded value so both engines cut identically). One
    shared trailing frame over the collapsed daily series."""
    daily = _daily_rev(spark, sf_dir)
    wd = Window.orderBy("d")
    delta = daily.select(
        "d", (F.col("rev") - F.lag("rev").over(wd)).alias("ch")
    ).filter(F.col("ch").isNotNull())
    gl = delta.select(
        "d",
        F.when(F.col("ch") > 0, F.col("ch")).otherwise(0.0).alias("gain"),
        F.when(F.col("ch") < 0, -F.col("ch")).otherwise(0.0).alias("loss"),
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    win = gl.select(
        "d",
        F.count("*").over(w).alias("n"),
        F.avg("gain").over(w).alias("ag"),
        F.avg("loss").over(w).alias("al"),
    ).filter(F.col("n") == 14)
    rsi = win.select(
        "d",
        F.round(
            F.when(F.col("al") == 0, 100.0).otherwise(
                100.0 - 100.0 / (1 + F.col("ag") / F.col("al"))
            ),
            4,
        ).alias("rsi"),
    )
    ranked = rsi.select(
        "d",
        "rsi",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("rsi") - 50).desc(), "d"))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 10).select(
        "d",
        "rsi",
        F.when(F.col("rsi") >= 70, "overbought")
        .when(F.col("rsi") <= 30, "oversold")
        .otherwise("neutral")
        .alias("signal"),
    )


# ---------------------------------------------------------------------------
# X365 — SMA crossover (golden/death cross)
# ---------------------------------------------------------------------------


@query(
    "q_sma_crossover",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    sma AS (
      SELECT d,
             count(*) OVER w20 AS n20, avg(rev) OVER w20 AS s20,
             count(*) OVER w50 AS n50, avg(rev) OVER w50 AS s50
      FROM daily
      WINDOW w20 AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             w50 AS (ORDER BY d ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
    ), sgn AS (
      SELECT d, s20, s50,
             CASE WHEN s20 > s50 THEN 1 ELSE -1 END AS s,
             lag(CASE WHEN s20 > s50 THEN 1 ELSE -1 END)
               OVER (ORDER BY d) AS ps
      FROM sma WHERE n50 = 50
    )
    SELECT d, round(s20, 2) AS sma_short, round(s50, 2) AS sma_long,
           CASE WHEN s = 1 THEN 'golden' ELSE 'death' END AS cross_type
    FROM sgn WHERE ps IS NOT NULL AND s <> ps
    """,
)
def q_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X365 — SMA-20/SMA-50 crossover detector: emit the days where the
    short average crosses the long one (golden cross up, death cross
    down) — the discrete event form of X228's segmented trend. Both
    averages and the lagged sign come from sorts of the SAME ~2500-row
    collapsed series; complete 50-day windows only."""
    daily = _daily_rev(spark, sf_dir)
    w20 = Window.orderBy("d").rowsBetween(-19, 0)
    w50 = Window.orderBy("d").rowsBetween(-49, 0)
    sma = daily.select(
        "d",
        F.avg("rev").over(w20).alias("s20"),
        F.count("*").over(w50).alias("n50"),
        F.avg("rev").over(w50).alias("s50"),
    ).filter(F.col("n50") == 50)
    s = F.when(F.col("s20") > F.col("s50"), 1).otherwise(-1)
    sgn = sma.select(
        "d",
        "s20",
        "s50",
        s.alias("s"),
        F.lag(s).over(Window.orderBy("d")).alias("ps"),
    )
    return sgn.filter(
        F.col("ps").isNotNull() & (F.col("s") != F.col("ps"))
    ).select(
        "d",
        F.round("s20", 2).alias("sma_short"),
        F.round("s50", 2).alias("sma_long"),
        F.when(F.col("s") == 1, "golden").otherwise("death").alias(
            "cross_type"
        ),
    )


# ---------------------------------------------------------------------------
# X366 — weekly + anchored VWAP
# ---------------------------------------------------------------------------


@query(
    "q_vwap",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
             sum(l_extendedprice) AS pv, sum(l_quantity) AS vol
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT wk, pv / vol AS vwap_week,
             sum(pv) OVER (ORDER BY wk) / sum(vol) OVER (ORDER BY wk)
               AS vwap_anchored
      FROM wk
    )
    SELECT wk, round(vwap_week, 4) AS vwap_week,
           round(vwap_anchored, 4) AS vwap_anchored,
           round((vwap_week - vwap_anchored) / vwap_anchored * 100, 4)
             AS dev_pct
    FROM c
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X366 — weekly and anchored (running cumulative) volume-weighted
    average price: VWAP = Σ(price)/Σ(quantity), the execution-quality
    benchmark; dev_pct is the week's premium over the since-inception
    anchor. One grouped scan to ~400 weekly (pv, vol) pairs, then one
    bounded ordered window for the anchored running ratio."""
    wk = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.to_date(F.date_trunc("week", "l_shipdate")).alias("wk")
        )
        .agg(
            F.sum("l_extendedprice").alias("pv"),
            F.sum("l_quantity").alias("vol"),
        )
    )
    w = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    c = wk.select(
        "wk",
        (F.col("pv") / F.col("vol")).alias("vwap_week"),
        (F.sum("pv").over(w) / F.sum("vol").over(w)).alias(
            "vwap_anchored"
        ),
    )
    return c.select(
        "wk",
        F.round("vwap_week", 4).alias("vwap_week"),
        F.round("vwap_anchored", 4).alias("vwap_anchored"),
        F.round(
            (F.col("vwap_week") - F.col("vwap_anchored"))
            / F.col("vwap_anchored")
            * 100,
            4,
        ).alias("dev_pct"),
    )


# ---------------------------------------------------------------------------
# X367 — Hurst exponent by rescaled range
# ---------------------------------------------------------------------------


@query(
    "q_hurst",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    ret AS (
      SELECT ln(rev / lag(rev) OVER (ORDER BY d)) AS r, d FROM daily
    ), idx AS (
      SELECT r, row_number() OVER (ORDER BY d) - 1 AS i
      FROM ret WHERE r IS NOT NULL
    ), blk AS (
      SELECT s.s, idx.i // s.s AS b, idx.i, idx.r
      FROM idx CROSS JOIN (SELECT unnest([16, 32, 64, 128]) AS s) s
    ), bstat AS (
      SELECT s, b, count(*) AS n, avg(r) AS mb,
             sum(r * r) AS ss
      FROM blk GROUP BY s, b
    ), full_b AS (SELECT * FROM bstat WHERE n = s),
    dev AS (
      SELECT blk.s, blk.b, blk.i,
             sum(blk.r - fb.mb) OVER
               (PARTITION BY blk.s, blk.b ORDER BY blk.i) AS z,
             fb.ss, fb.mb
      FROM blk JOIN full_b fb ON blk.s = fb.s AND blk.b = fb.b
    ), rs AS (
      SELECT s, b, max(z) - min(z) AS rng,
             sqrt(any_value(ss) / s - any_value(mb) * any_value(mb)) AS sd
      FROM dev GROUP BY s, b
    ), per_size AS (
      SELECT s, count(*) AS n_blocks, avg(rng / sd) AS mean_rs
      FROM rs WHERE sd > 0 GROUP BY s
    ), fit AS (
      SELECT count(*) AS k, sum(ln(s)) AS sx, sum(ln(mean_rs)) AS sy,
             sum(ln(s) * ln(mean_rs)) AS sxy, sum(ln(s) * ln(s)) AS sxx
      FROM per_size
    )
    SELECT
      round((SELECT mean_rs FROM per_size WHERE s = 16), 6) AS rs_16,
      round((SELECT mean_rs FROM per_size WHERE s = 32), 6) AS rs_32,
      round((SELECT mean_rs FROM per_size WHERE s = 64), 6) AS rs_64,
      round((SELECT mean_rs FROM per_size WHERE s = 128), 6) AS rs_128,
      round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS hurst
    FROM fit
    """,
)
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X367 — Hurst exponent by classical rescaled-range (R/S)
    analysis: block the daily log-return series at sizes 16/32/64/128,
    R = range of within-block cumulative deviations, S = population sd,
    H = slope of ln(mean R/S) on ln(size) — H>0.5 long memory, <0.5
    mean reversion (the persistence diagnostic behind X126's
    autocorrelation and X332's rolling beta). The size explode
    multiplies only the ~2500-row collapsed series; block windows are
    bounded by the largest block size."""
    daily = _daily_rev(spark, sf_dir)
    wd = Window.orderBy("d")
    ret = daily.select(
        "d", F.log(F.col("rev") / F.lag("rev").over(wd)).alias("r")
    ).filter(F.col("r").isNotNull())
    idx = ret.select(
        "r", (F.row_number().over(Window.orderBy("d")) - 1).alias("i")
    )
    blk = idx.crossJoin(
        local_frame(spark, [(16,), (32,), (64,), (128,)], "s long")
    ).select("s", (F.col("i") / F.col("s")).cast("long").alias("b"), "i", "r")
    bstat = blk.groupBy("s", "b").agg(
        F.count("*").alias("n"),
        F.avg("r").alias("mb"),
        F.sum(F.col("r") * F.col("r")).alias("ss"),
    )
    full_b = bstat.filter(F.col("n") == F.col("s")).select(
        F.col("s").alias("fs"), F.col("b").alias("fb"), "mb", "ss"
    )
    dev = blk.join(
        F.broadcast(full_b),
        (blk.s == full_b.fs) & (blk.b == full_b.fb),
    ).select(
        "s",
        "b",
        "i",
        "r",
        "mb",
        "ss",
    )
    wz = Window.partitionBy("s", "b").orderBy("i")
    dev = dev.withColumn(
        "z", F.sum(F.col("r") - F.col("mb")).over(wz)
    )
    rs = (
        dev.groupBy("s", "b")
        .agg(
            (F.max("z") - F.min("z")).alias("rng"),
            F.any_value("ss").alias("bss"),
            F.any_value("mb").alias("bmb"),
        )
        .select(
            "s",
            "b",
            "rng",
            F.sqrt(
                F.col("bss") / F.col("s") - F.col("bmb") * F.col("bmb")
            ).alias("sd"),
        )
    )
    per_size = (
        rs.filter(F.col("sd") > 0)
        .groupBy("s")
        .agg(
            F.count("*").alias("n_blocks"),
            F.avg(F.col("rng") / F.col("sd")).alias("mean_rs"),
        )
    )
    lx = F.log("s")
    ly = F.log("mean_rs")
    fit = per_size.agg(
        F.count("*").alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.round(F.max(F.when(F.col("s") == 16, F.col("mean_rs"))), 6).alias("rs_16"),
        F.round(F.max(F.when(F.col("s") == 32, F.col("mean_rs"))), 6).alias("rs_32"),
        F.round(F.max(F.when(F.col("s") == 64, F.col("mean_rs"))), 6).alias("rs_64"),
        F.round(F.max(F.when(F.col("s") == 128, F.col("mean_rs"))), 6).alias("rs_128"),
    )
    return fit.select(
        "rs_16",
        "rs_32",
        "rs_64",
        "rs_128",
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# X368 — Croston intermittent-demand forecast
# ---------------------------------------------------------------------------


@query(
    "q_croston",
    oracle="""
    WITH wk AS (
      SELECT l_partkey % 997 AS part_band,
             CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
             sum(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2
    ), horizon AS (
      SELECT count(DISTINCT wk) AS w FROM wk
    ), s AS (
      SELECT part_band, count(*) AS k, avg(q) AS z
      FROM wk GROUP BY part_band
    )
    SELECT s.part_band, CAST(h.w AS BIGINT) AS n_weeks,
           CAST(s.k AS BIGINT) AS n_demand_weeks,
           round(s.z, 4) AS mean_size,
           round(h.w * 1.0 / s.k, 6) AS mean_interval,
           round(s.z * s.k / h.w, 6) AS croston_forecast,
           round(0.95 * s.z * s.k / h.w, 6) AS sba_forecast
    FROM s CROSS JOIN horizon h
    """,
)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X368 — Croston's method for intermittent demand per part band:
    demand size z = mean of nonzero weekly demands, interval p =
    horizon/occurrences, forecast = z/p, plus the Syntetos-Boylan
    approximation's (1 - α/2) bias factor at α=0.1. The method of
    record for spare-parts/slow-mover series where X218's Holt
    extrapolates noise (z and p must be modeled separately). Interval
    averaging (not EWMA) keeps it window-free: one grouped rollup +
    one broadcast horizon scalar."""
    wk = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_partkey") % 997).alias("part_band"),
            F.to_date(F.date_trunc("week", "l_shipdate")).alias("wk"),
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    horizon = wk.agg(F.countDistinct("wk").alias("w"))
    s = wk.groupBy("part_band").agg(
        F.count("*").alias("k"), F.avg("q").alias("z")
    )
    j = s.crossJoin(F.broadcast(horizon))
    fc = F.col("z") * F.col("k") / F.col("w")
    return j.select(
        "part_band",
        F.col("w").cast("long").alias("n_weeks"),
        F.col("k").cast("long").alias("n_demand_weeks"),
        F.round("z", 4).alias("mean_size"),
        F.round(F.col("w") * 1.0 / F.col("k"), 6).alias("mean_interval"),
        F.round(fc, 6).alias("croston_forecast"),
        F.round(0.95 * fc, 6).alias("sba_forecast"),
    )
