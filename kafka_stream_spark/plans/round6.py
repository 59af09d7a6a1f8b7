"""Round-6 batch A: GIF89a animation under the value-hash gate.

X571 — the first INTER-FRAME rung of the codec line (round-5 verdict
ask #3): operators/gif.py now speaks GIF89a animation — graphic-control
extensions, per-frame disposal methods, transparency, NETSCAPE loop
block, and inter-frame DELTA RECTANGLES (each frame after the first is
stored as the bounding box of changed pixels with unchanged pixels
transparent, composited back onto the canvas at decode). GIF stays
lossless for ≤255-color frames, so the gate pins the full
compose→delta-encode→LZW→decode→re-compose loop bit-for-bit: the
oracle recomputes each COMPOSED frame arithmetically from the
embedding and any single wrong pixel in the delta extraction, the
transparency routing, or the composition breaks the hash.

Reference parity note: the reference engine (kafka_stream/kafka_s.py)
has no media path; this extends SURVEY §2.14's multimodal family. The
NotImplementedError boundary narrows to true entropy-coded inter-frame
codecs (H.26x/VP9) plus interlaced GIF and local color tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import default_parallelism
from ..sources.tables import load
from ..streaming.pipeline import Cells, StoreSpec
from .registry import query

# quantized 0-255 gray levels from the embedding, 1-based DuckDB list
_LEVELS = (
    "list_transform(embedding, e -> CAST(least(greatest("
    "round((CAST(e AS DOUBLE) + 1.0) * 127.5, 0), 0), 255) AS BIGINT))"
)

# pos is 1-based; row = (pos-1)//8, col = (pos-1)%8.  Frame deltas:
# frame 1 inverts the top-left 4x4 block, frame 2 additionally inverts
# the bottom-right 4x4 block (disjoint, so composition under disposal
# method 1 is px -> 255-px exactly on the union).
_TL = "((pos - 1) // 8 < 4 AND (pos - 1) % 8 < 4)"
_BR = "((pos - 1) // 8 >= 4 AND (pos - 1) % 8 >= 4)"


@query(
    "q_gif_animation",
    oracle=f"""
    WITH px AS (
      SELECT vec_id, unnest({_LEVELS}) AS v,
             unnest(range(1, len(embedding) + 1)) AS pos
      FROM embeddings
    ), frames AS (
      SELECT vec_id, f.frame_idx,
             CASE
               WHEN f.frame_idx = 0 THEN v
               WHEN f.frame_idx = 1 AND {_TL} THEN 255 - v
               WHEN f.frame_idx = 2 AND ({_TL} OR {_BR}) THEN 255 - v
               ELSE v
             END AS cv
      FROM px CROSS JOIN (
        SELECT unnest(range(0, 3)) AS frame_idx
      ) f
    )
    SELECT vec_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(sum(cv) AS BIGINT) AS pix_sum,
           CAST(3 AS BIGINT) AS n_frames
    FROM frames GROUP BY vec_id, frame_idx
    """,
)
def q_gif_animation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X571 — GIF89a animation under the gate: each embedding renders a
    3-frame 8×8 grayscale animation (base image; top-left 4×4 block
    inverted; then bottom-right 4×4 block inverted too), encoded as a
    REAL animated GIF89a — frames 1 and 2 are stored as 4×4 delta
    rectangles with transparency under disposal method 1
    (operators/gif.encode_gif_animation) — then decoded back through
    the container walk, per-frame LZW, and canvas COMPOSITION
    (decode_gif_animation). The output is each composed frame's pixel
    sum, which the oracle recomputes arithmetically: a match proves
    delta extraction, transparent-pixel routing, and composition are
    pixel-exact for every frame of every animation.

    Scale shape: one JVM-side quantization projection, one
    Arrow-batched mapInPandas hop (encode+decode+sum per row), no
    shuffle, 3 rows × 24 bytes out per animation."""
    from ..operators.gif import decode_gif_animation, encode_gif_animation

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
    quant = emb.select("vec_id", px.alias("px"))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, fidx, sums, nf = [], [], [], []
            for vec_id, vals in zip(pdf["vec_id"], pdf["px"]):
                base = [int(g) for g in vals]
                f1 = [
                    255 - g if (i // 8 < 4 and i % 8 < 4) else g
                    for i, g in enumerate(base)
                ]
                f2 = [
                    255 - g if (i // 8 >= 4 and i % 8 >= 4) else g
                    for i, g in enumerate(f1)
                ]
                frames = [
                    b"".join(bytes((g,) * 3) for g in fr)
                    for fr in (base, f1, f2)
                ]
                payload = encode_gif_animation(8, 8, frames)
                _w, _h, composed = decode_gif_animation(payload)
                for k, fr in enumerate(composed):
                    ids.append(vec_id)
                    fidx.append(k)
                    sums.append(sum(fr[::3]))
                    nf.append(len(composed))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "frame_idx": fidx,
                    "pix_sum": sums,
                    "n_frames": nf,
                }
            )

    return quant.mapInPandas(
        run,
        schema="vec_id long, frame_idx long, pix_sum long, n_frames long",
    )


# ---------------------------------------------------------------------------
# Round-6 batch B: regression diagnostics over the daily revenue series
# ---------------------------------------------------------------------------

from pyspark.sql import Column  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

# shared shape: per l_returnflag, the daily revenue series (t = days
# since the flag's first ship date, y = rounded daily revenue) and the
# centered OLS sums both engines derive every statistic from.
_DAILY_SQL = """
    daily0 AS MATERIALIZED (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
             round(sum(l_extendedprice), 2) AS y
      FROM lineitem GROUP BY 1, 2
    ),
    daily AS MATERIALIZED (
      SELECT flag,
             date_diff('day', min(day) OVER (PARTITION BY flag), day) AS t,
             y
      FROM daily0
    ),
    sums AS MATERIALIZED (
      SELECT flag, count(*) AS n,
             round(sum(t * 1.0), 4) AS sx, round(sum(y), 4) AS sy,
             round(sum(t * 1.0 * t), 4) AS sxx,
             round(sum(t * y), 4) AS sxy,
             round(sum(y * y), 4) AS syy
      FROM daily GROUP BY flag
    ),
    fit AS MATERIALIZED (
      SELECT flag, n, sx, sy, sxx, sxy, syy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
      FROM sums
    ),
    resid AS MATERIALIZED (
      SELECT d.flag, d.t, round(d.y - f.a - f.b * d.t, 6) AS e
      FROM daily d JOIN fit f ON f.flag = d.flag
    )
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w_min = Window.partitionBy("flag")
    d = li.select(
        F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("day"),
        "l_extendedprice",
    )
    return (
        d.groupBy("flag", "day")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("y"))
        .withColumn(
            "t", F.datediff(F.col("day"), F.min("day").over(w_min))
        )
        .drop("day")
    )


def _ols_sums(daily: DataFrame) -> DataFrame:
    return daily.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("t") * 1.0), 4).alias("sx"),
        F.round(F.sum("y"), 4).alias("sy"),
        F.round(F.sum(F.col("t") * 1.0 * F.col("t")), 4).alias("sxx"),
        F.round(F.sum(F.col("t") * F.col("y")), 4).alias("sxy"),
        F.round(F.sum(F.col("y") * F.col("y")), 4).alias("syy"),
    )


def _ols_fit(sums: DataFrame) -> DataFrame:
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.withColumn("b", b).withColumn(
        "a", (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
    )


def _residuals(daily: DataFrame, fit: DataFrame) -> DataFrame:
    return daily.join(fit.select("flag", "a", "b"), "flag").select(
        "flag",
        "t",
        F.round(
            F.col("y") - F.col("a") - F.col("b") * F.col("t"), 6
        ).alias("e"),
    )


@query(
    "q_durbin_watson",
    oracle=f"""
    WITH {_DAILY_SQL},
    lagged AS (
      SELECT flag, e,
             lag(e) OVER (PARTITION BY flag ORDER BY t) AS e_prev
      FROM resid
    )
    SELECT flag, CAST(count(*) AS BIGINT) AS n_days,
           round(sum(CASE WHEN e_prev IS NULL THEN 0
                          ELSE (e - e_prev) * (e - e_prev) END)
                 / sum(e * e), 4) AS dw,
           round(1 - (sum(CASE WHEN e_prev IS NULL THEN 0
                               ELSE (e - e_prev) * (e - e_prev) END)
                      / sum(e * e)) / 2, 4) AS rho_implied
    FROM lagged GROUP BY flag
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X575 — Durbin-Watson serial-correlation diagnostic on the
    detrended daily revenue series per return flag: DW = Σ(eₜ-eₜ₋₁)²/Σeₜ²
    over OLS residuals, with the implied AR(1) coefficient ρ ≈ 1-DW/2 —
    the standard pre-check before the X544 Cochrane-Orcutt correction
    this engine already runs. Residuals derive from ROUNDED sums (the
    cross-engine discipline) and round to 6 digits before the DW
    quotient, so both engines sum identical doubles.

    Plan: one daily-rollup shuffle, one 5-row broadcast of the fits,
    one per-flag window pass for the lag — the whole diagnostic is two
    exchanges of (flag, day) grain rows at any scale."""
    daily = _daily_series(spark, sf_dir)
    fit = _ols_fit(_ols_sums(daily))
    resid = _residuals(daily, fit)
    w = Window.partitionBy("flag").orderBy("t")
    lagged = resid.withColumn("e_prev", F.lag("e").over(w))
    num = F.sum(
        F.when(F.col("e_prev").isNull(), F.lit(0.0)).otherwise(
            (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev"))
        )
    )
    den = F.sum(F.col("e") * F.col("e"))
    return lagged.groupBy("flag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(num / den, 4).alias("dw"),
        F.round(1 - (num / den) / 2, 4).alias("rho_implied"),
    )


@query(
    "q_newey_west",
    oracle=f"""
    WITH {_DAILY_SQL},
    u AS (
      SELECT r.flag, r.t,
             round((r.t - f.sx / f.n) * r.e, 6) AS ut
      FROM resid r JOIN fit f ON f.flag = r.flag
    ),
    hac AS (
      SELECT flag,
             round(sum(ut * ut), 4) AS s0,
             round(sum(CASE WHEN ut_prev IS NULL THEN 0
                            ELSE ut * ut_prev END), 4) AS s1
      FROM (SELECT flag, ut,
                   lag(ut) OVER (PARTITION BY flag ORDER BY t) AS ut_prev
            FROM u)
      GROUP BY flag
    )
    SELECT f.flag, round(f.b, 6) AS slope,
           round(sqrt((h.s0 + 2 * 0.5 * h.s1)
                      / pow(f.sxx - f.sx * f.sx / f.n, 2)), 6) AS se_nw,
           round(f.b / sqrt((h.s0 + 2 * 0.5 * h.s1)
                      / pow(f.sxx - f.sx * f.sx / f.n, 2)), 4) AS t_nw
    FROM fit f JOIN hac h ON h.flag = f.flag
    """,
)
def q_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X576 — Newey-West HAC (lag-1 Bartlett) standard error for the
    daily-revenue trend slope: autocorrelation-robust inference on the
    same series X575 diagnoses — se² = (S₀ + 2·w₁·S₁)/Sxx_c² with
    w₁ = 1/2, over the score series uₜ = (tₜ-t̄)·eₜ. The honest t-stat
    for every 'is the trend real' question on serially-correlated
    daily rollups. Scores round to 6, their sums to 4; both engines
    then derive se and t from identical doubles."""
    daily = _daily_series(spark, sf_dir)
    fit = _ols_fit(_ols_sums(daily))
    resid = _residuals(daily, fit)
    u = resid.join(fit.select("flag", "n", "sx", "sxx", "b"), "flag").select(
        "flag",
        "t",
        "n",
        "sx",
        "sxx",
        "b",
        F.round(
            (F.col("t") - F.col("sx") / F.col("n")) * F.col("e"), 6
        ).alias("ut"),
    )
    w = Window.partitionBy("flag").orderBy("t")
    lagged = u.withColumn("ut_prev", F.lag("ut").over(w))
    hac = lagged.groupBy("flag", "n", "sx", "sxx", "b").agg(
        F.round(F.sum(F.col("ut") * F.col("ut")), 4).alias("s0"),
        F.round(
            F.sum(
                F.when(F.col("ut_prev").isNull(), F.lit(0.0)).otherwise(
                    F.col("ut") * F.col("ut_prev")
                )
            ),
            4,
        ).alias("s1"),
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    var = (F.col("s0") + 2 * 0.5 * F.col("s1")) / F.pow(sxx_c, 2)
    return hac.select(
        "flag",
        F.round(F.col("b"), 6).alias("slope"),
        F.round(F.sqrt(var), 6).alias("se_nw"),
        F.round(F.col("b") / F.sqrt(var), 4).alias("t_nw"),
    )


@query(
    "q_chow_test",
    oracle=f"""
    WITH {_DAILY_SQL},
    marked AS MATERIALIZED (
      SELECT d.flag, d.t, d.y,
             CASE WHEN d.t * 2 <= (SELECT max(t) FROM daily x
                                   WHERE x.flag = d.flag)
                  THEN 0 ELSE 1 END AS seg
      FROM daily d
    ),
    seg_sums AS MATERIALIZED (
      SELECT flag, seg, count(*) AS n,
             round(sum(t * 1.0), 4) AS sx, round(sum(y), 4) AS sy,
             round(sum(t * 1.0 * t), 4) AS sxx,
             round(sum(t * y), 4) AS sxy,
             round(sum(y * y), 4) AS syy
      FROM marked GROUP BY flag, seg
    ),
    seg_ssr AS (
      SELECT flag, seg, n,
             (syy - sy * sy / n)
             - pow(sxy - sx * sy / n, 2) / (sxx - sx * sx / n) AS ssr
      FROM seg_sums
    ),
    pooled AS (
      SELECT f.flag, f.n,
             (f.syy - f.sy * f.sy / f.n)
             - pow(f.sxy - f.sx * f.sy / f.n, 2)
               / (f.sxx - f.sx * f.sx / f.n) AS ssr_p
      FROM fit f
    )
    SELECT p.flag,
           round((s0.ssr + s1.ssr) / p.ssr_p, 6) AS ssr_ratio,
           round(((p.ssr_p - s0.ssr - s1.ssr) / 2)
                 / ((s0.ssr + s1.ssr) / (p.n - 4)), 4) AS f_stat
    FROM pooled p
    JOIN seg_ssr s0 ON s0.flag = p.flag AND s0.seg = 0
    JOIN seg_ssr s1 ON s1.flag = p.flag AND s1.seg = 1
    """,
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X577 — Chow structural-break test on the daily revenue trend:
    split each flag's series at its midpoint day, fit the linear trend
    pooled and per segment, F = ((SSR_p − SSR₁ − SSR₂)/k) /
    ((SSR₁+SSR₂)/(n−2k)) with k = 2 parameters — the classic 'did the
    regime change' check every monitoring pipeline wants next to the
    X210/X389 changepoint detectors, which FIND a break while Chow
    TESTS a hypothesized one. Pure sufficient-statistics arithmetic:
    three sets of rounded sums, no per-row second pass."""
    daily = _daily_series(spark, sf_dir)
    w_max = Window.partitionBy("flag")
    marked = daily.withColumn(
        "seg",
        F.when(F.col("t") * 2 <= F.max("t").over(w_max), 0).otherwise(1),
    )
    seg_sums = marked.groupBy("flag", "seg").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("t") * 1.0), 4).alias("sx"),
        F.round(F.sum("y"), 4).alias("sy"),
        F.round(F.sum(F.col("t") * 1.0 * F.col("t")), 4).alias("sxx"),
        F.round(F.sum(F.col("t") * F.col("y")), 4).alias("sxy"),
        F.round(F.sum(F.col("y") * F.col("y")), 4).alias("syy"),
    )

    def ssr_col():
        return (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) - (
            F.pow(F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"), 2)
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        )

    seg_ssr = seg_sums.withColumn("ssr", ssr_col())
    pooled = _ols_sums(daily).withColumn("ssr_p", ssr_col())
    s0 = seg_ssr.filter(F.col("seg") == 0).select(
        "flag", F.col("ssr").alias("ssr0")
    )
    s1 = seg_ssr.filter(F.col("seg") == 1).select(
        "flag", F.col("ssr").alias("ssr1")
    )
    j = pooled.join(s0, "flag").join(s1, "flag")
    f_stat = ((F.col("ssr_p") - F.col("ssr0") - F.col("ssr1")) / 2) / (
        (F.col("ssr0") + F.col("ssr1")) / (F.col("n") - 4)
    )
    return j.select(
        "flag",
        F.round(
            (F.col("ssr0") + F.col("ssr1")) / F.col("ssr_p"), 6
        ).alias("ssr_ratio"),
        F.round(f_stat, 4).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# X578 — D'Agostino K² omnibus normality (skewness + kurtosis z-tests)
# ---------------------------------------------------------------------------

_QTY_MOMENTS_SQL = """
    raw AS MATERIALIZED (
      SELECT l_returnflag AS flag, count(*) AS n,
             round(sum(l_quantity), 4) AS s1,
             round(sum(l_quantity * l_quantity), 4) AS s2,
             round(sum(l_quantity * l_quantity * l_quantity), 4) AS s3,
             round(sum(l_quantity * l_quantity * l_quantity * l_quantity),
                   4) AS s4
      FROM lineitem GROUP BY 1
    ),
    mom AS (
      SELECT flag, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM raw
    ),
    shape AS (
      SELECT flag, n, m3 / pow(m2, 1.5) AS g1, m4 / (m2 * m2) AS b2
      FROM mom
    ),
    zs_t AS (
      SELECT flag, n, g1, b2,
             g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS yy,
             3.0 * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
               / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) AS beta2
      FROM shape
    ),
    zs_c AS (
      SELECT flag, n, g1, b2, yy,
             sqrt(2.0 * (beta2 - 1.0)) - 1.0 AS w2
      FROM zs_t
    ),
    zs AS (
      SELECT flag, n, g1, b2,
             ln(yy / sqrt(2.0 / (w2 - 1.0))
                + sqrt((yy / sqrt(2.0 / (w2 - 1.0)))
                       * (yy / sqrt(2.0 / (w2 - 1.0))) + 1.0))
             / sqrt(ln(sqrt(w2 + 1.0))) AS z_skew
      FROM zs_c
    ),
    zk_t AS (
      SELECT flag, n, g1, b2, z_skew,
             (b2 - 3.0 * (n - 1.0) / (n + 1.0))
             / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
                    / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))) AS x,
             6.0 * (n * n - 5.0 * n + 2.0) / ((n + 7.0) * (n + 9.0))
               * sqrt(6.0 * (n + 3.0) * (n + 5.0)
                      / (n * (n - 2.0) * (n - 3.0))) AS sb1
      FROM zs
    ),
    zk_a AS (
      SELECT flag, n, g1, b2, z_skew, x,
             6.0 + 8.0 / sb1 * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))
               AS aa
      FROM zk_t
    ),
    zk AS (
      SELECT flag, n, g1, b2, z_skew,
             ((1.0 - 2.0 / (9.0 * aa))
              - cbrt((1.0 - 2.0 / aa)
                     / (1.0 + x * sqrt(2.0 / (aa - 4.0)))))
             / sqrt(2.0 / (9.0 * aa)) AS z_kurt
      FROM zk_a
    )
"""


@query(
    "q_dagostino_k2",
    oracle=f"""
    WITH {_QTY_MOMENTS_SQL}
    SELECT flag, CAST(n AS BIGINT) AS n,
           round(g1, 6) AS skewness,
           round(b2, 6) AS kurtosis,
           round(z_skew, 4) AS z_skew,
           round(z_kurt, 4) AS z_kurt,
           round(z_skew * z_skew + z_kurt * z_kurt, 4) AS k2,
           round(exp(-(z_skew * z_skew + z_kurt * z_kurt) / 2.0), 6)
             AS p_value
    FROM zk
    """,
)
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X578 — D'Agostino-Pearson K² omnibus normality test on order
    quantities per return flag: the skewness z (D'Agostino 1970
    Johnson-SU transform) and kurtosis z (Anscombe-Glynn 1983 cube-root
    transform) combined as K² = zₛ²+zₖ² ~ χ²(2), whose survival
    function is the CLOSED FORM exp(−K²/2) — no erf needed. The
    moments-based complement to the X250 Jarque-Bera and X525
    Anderson-Darling tests already in the battery: JB uses raw g1/b2,
    K² uses their variance-stabilized transforms, AD uses the ECDF.
    All four raw power sums round to 4 digits first, so both engines
    run the identical double pipeline from identical inputs; one
    map-side aggregation pass at any scale."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    raw = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.round(F.sum(q), 4).alias("s1"),
        F.round(F.sum(q * q), 4).alias("s2"),
        F.round(F.sum(q * q * q), 4).alias("s3"),
        F.round(F.sum(q * q * q * q), 4).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    mom = raw.select(
        "flag",
        "n",
        (s2 / n - mu * mu).alias("m2"),
        (s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu).alias("m3"),
        (
            s4 / n
            - 4 * mu * (s3 / n)
            + 6 * mu * mu * (s2 / n)
            - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    shape = mom.select(
        "flag",
        "n",
        (F.col("m3") / F.pow("m2", 1.5)).alias("g1"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("b2"),
    )
    nn = F.col("n")
    yy = F.col("g1") * F.sqrt((nn + 1.0) * (nn + 3.0) / (6.0 * (nn - 2.0)))
    beta2 = (
        3.0
        * (nn * nn + 27.0 * nn - 70.0)
        * (nn + 1.0)
        * (nn + 3.0)
        / ((nn - 2.0) * (nn + 5.0) * (nn + 7.0) * (nn + 9.0))
    )
    s_a = shape.withColumn("yy", yy).withColumn(
        "w2", F.sqrt(2.0 * (beta2 - 1.0)) - 1.0
    )
    alpha = F.sqrt(2.0 / (F.col("w2") - 1.0))
    z_skew = F.log(
        F.col("yy") / alpha
        + F.sqrt((F.col("yy") / alpha) * (F.col("yy") / alpha) + 1.0)
    ) / F.sqrt(F.log(F.sqrt(F.col("w2") + 1.0)))
    s_b = s_a.withColumn("z_skew", z_skew)
    x = (F.col("b2") - 3.0 * (nn - 1.0) / (nn + 1.0)) / F.sqrt(
        24.0
        * nn
        * (nn - 2.0)
        * (nn - 3.0)
        / ((nn + 1.0) * (nn + 1.0) * (nn + 3.0) * (nn + 5.0))
    )
    sb1 = (
        6.0
        * (nn * nn - 5.0 * nn + 2.0)
        / ((nn + 7.0) * (nn + 9.0))
        * F.sqrt(
            6.0 * (nn + 3.0) * (nn + 5.0) / (nn * (nn - 2.0) * (nn - 3.0))
        )
    )
    s_c = s_b.withColumn("x", x).withColumn(
        "aa",
        6.0
        + 8.0
        / sb1
        * (2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1))),
    )
    aa = F.col("aa")
    z_kurt = (
        (1.0 - 2.0 / (9.0 * aa))
        - F.cbrt(
            (1.0 - 2.0 / aa)
            / (1.0 + F.col("x") * F.sqrt(2.0 / (aa - 4.0)))
        )
    ) / F.sqrt(2.0 / (9.0 * aa))
    s_d = s_c.withColumn("z_kurt", z_kurt)
    k2 = F.col("z_skew") * F.col("z_skew") + F.col("z_kurt") * F.col("z_kurt")
    return s_d.select(
        "flag",
        nn.cast("long").alias("n"),
        F.round("g1", 6).alias("skewness"),
        F.round("b2", 6).alias("kurtosis"),
        F.round("z_skew", 4).alias("z_skew"),
        F.round("z_kurt", 4).alias("z_kurt"),
        F.round(k2, 4).alias("k2"),
        F.round(F.exp(-k2 / 2.0), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# X579 — Breusch-Pagan heteroscedasticity test
# ---------------------------------------------------------------------------


@query(
    "q_breusch_pagan",
    oracle="""
    WITH s AS MATERIALIZED (
      SELECT l_returnflag AS flag, count(*) AS n,
             round(sum(l_quantity), 4) AS sx,
             round(sum(l_extendedprice / 100000.0), 6) AS sy,
             round(sum(l_quantity * l_quantity), 4) AS sxx,
             round(sum(l_quantity * l_extendedprice / 100000.0), 6) AS sxy
      FROM lineitem GROUP BY 1
    ),
    f AS MATERIALIZED (
      SELECT flag, n, sx, sxx,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
      FROM s
    ),
    u AS MATERIALIZED (
      SELECT l.l_returnflag AS flag, l.l_quantity AS x,
             round(pow(l.l_extendedprice / 100000.0
                       - f.a - f.b * l.l_quantity, 2), 6) AS uu
      FROM lineitem l JOIN f ON f.flag = l.l_returnflag
    ),
    aux AS (
      SELECT flag, count(*) AS n,
             round(sum(x * 1.0), 4) AS sx, round(sum(uu), 4) AS su,
             round(sum(x * 1.0 * x), 4) AS sxx,
             round(sum(x * uu), 4) AS sxu,
             round(sum(uu * uu), 4) AS suu
      FROM u GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           round(n * pow(sxu - sx * su / n, 2)
                 / ((sxx - sx * sx / n) * (suu - su * su / n)), 4) AS lm,
           round(1 - (1 - (0.254829592 * (1/(1 + 0.3275911 * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))/sqrt(2))) - 0.284496736 * pow(1/(1 + 0.3275911 * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))/sqrt(2)), 2) + 1.421413741 * pow(1/(1 + 0.3275911 * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))/sqrt(2)), 3) - 1.453152027 * pow(1/(1 + 0.3275911 * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))/sqrt(2)), 4) + 1.061405429 * pow(1/(1 + 0.3275911 * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))/sqrt(2)), 5)) * exp(-((sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n)))) * (sqrt(n * pow(sxu - sx * su / n, 2) / ((sxx - sx * sx / n) * (suu - su * su / n))))) / 2)), 6) AS p_value
    FROM aux
    """,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X579 — Breusch-Pagan heteroscedasticity test per return flag:
    does residual variance of price-on-quantity depend on quantity?
    LM = n·R² of the auxiliary regression of squared residuals on the
    regressor, ~χ²(1), whose survival is the two-sided-normal p of
    √LM (the shared A&S erf polynomial). Prices are PRE-SCALED by 1e-5
    before any squaring so fourth-power sums stay O(n) — round-the-sums
    only pins determinism when the rounding digit is representable at
    the sum's magnitude (the q_chow SSR lesson). LM and R² are
    invariant to that scaling. Two aggregation passes with a 3-row
    broadcast between them; no per-pair work."""
    from .round4o import _p_two_sided

    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice") / 100000.0
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.round(F.sum(x), 4).alias("sx"),
        F.round(F.sum(y), 6).alias("sy"),
        F.round(F.sum(x * x), 4).alias("sxx"),
        F.round(F.sum(x * y), 6).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fdf = s.withColumn("b", b).withColumn(
        "a", (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
    )
    u = li.join(
        F.broadcast(fdf.select("flag", "a", "b")),
        li.l_returnflag == F.col("flag"),
    ).select(
        "flag",
        x.alias("xv"),
        F.round(
            F.pow(y - F.col("a") - F.col("b") * x, 2), 6
        ).alias("uu"),
    )
    aux = u.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("xv") * 1.0), 4).alias("sx"),
        F.round(F.sum("uu"), 4).alias("su"),
        F.round(F.sum(F.col("xv") * 1.0 * F.col("xv")), 4).alias("sxx"),
        F.round(F.sum(F.col("xv") * F.col("uu")), 4).alias("sxu"),
        F.round(F.sum(F.col("uu") * F.col("uu")), 4).alias("suu"),
    )
    lm = (
        F.col("n")
        * F.pow(F.col("sxu") - F.col("sx") * F.col("su") / F.col("n"), 2)
        / (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("suu") - F.col("su") * F.col("su") / F.col("n"))
        )
    )
    return aux.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        F.round(lm, 4).alias("lm"),
        F.round(_p_two_sided(F.sqrt(lm)), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# X580 — Granger causality (lag 1) between daily click and purchase counts
# ---------------------------------------------------------------------------

_GRANGER_SQL = """
    daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             round(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   * 1.0, 1) AS clicks,
             round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   * 1.0, 1) AS purchases
      FROM events GROUP BY 1
    ),
    lagged AS MATERIALIZED (
      SELECT day, clicks, purchases,
             lag(clicks) OVER (ORDER BY day) AS c_lag,
             lag(purchases) OVER (ORDER BY day) AS p_lag
      FROM daily
    ),
    pairs AS MATERIALIZED (
      SELECT dir.direction,
             CASE WHEN dir.direction = 'click->purchase'
                  THEN purchases ELSE clicks END AS y,
             CASE WHEN dir.direction = 'click->purchase'
                  THEN p_lag ELSE c_lag END AS z1,
             CASE WHEN dir.direction = 'click->purchase'
                  THEN c_lag ELSE p_lag END AS z2
      FROM lagged
      CROSS JOIN (SELECT unnest(['click->purchase', 'purchase->click'])
                    AS direction) dir
      WHERE c_lag IS NOT NULL
    ),
    s AS MATERIALIZED (
      SELECT direction, count(*) AS n,
             round(sum(z1), 4) AS s1, round(sum(z2), 4) AS s2,
             round(sum(y), 4) AS sy,
             round(sum(z1 * z1), 4) AS s11,
             round(sum(z2 * z2), 4) AS s22,
             round(sum(z1 * z2), 4) AS s12,
             round(sum(z1 * y), 4) AS s1y,
             round(sum(z2 * y), 4) AS s2y,
             round(sum(y * y), 4) AS syy
      FROM pairs GROUP BY direction
    ),
    c AS (
      SELECT direction, n,
             s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y, syy - sy * sy / n AS cyy
      FROM s
    ),
    fit AS (
      SELECT direction, n, cyy,
             cyy - ((c1y * c22 - c2y * c12) * c1y
                    + (c2y * c11 - c1y * c12) * c2y)
                   / (c11 * c22 - c12 * c12) AS ssr_u,
             cyy - c1y * c1y / c11 AS ssr_r
      FROM c
    )
"""


@query(
    "q_granger_lag1",
    oracle=f"""
    WITH {_GRANGER_SQL}
    SELECT direction, CAST(n AS BIGINT) AS n,
           round(ssr_r / ssr_u, 6) AS ssr_ratio,
           round((ssr_r - ssr_u) / (ssr_u / (n - 3)), 4) AS f_stat
    FROM fit
    """,
)
def q_granger_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X580 — lag-1 Granger causality between the daily click and
    purchase series, both directions: restricted AR(1) of y on its own
    lag vs unrestricted y on (own lag, other series' lag);
    F = (SSR_r − SSR_u)/(SSR_u/(n−3)) with 1 tested regressor. The
    two-regressor OLS solves the 2×2 normal equations in closed form
    from centered sums — the same sufficient-statistics discipline as
    X322's multi-feature OLS, so no matrix library and one aggregation
    pass per direction. Does clicking predict purchasing beyond
    purchase momentum (and vice versa) — the standard lead-lag screen
    before the X412 cross-correlation function."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum((F.col("event_type") == "click").cast("int")) * 1.0, 1
        ).alias("clicks"),
        F.round(
            F.sum((F.col("event_type") == "purchase").cast("int")) * 1.0, 1
        ).alias("purchases"),
    )
    w = Window.orderBy("day")
    lagged = (
        daily.withColumn("c_lag", F.lag("clicks").over(w))
        .withColumn("p_lag", F.lag("purchases").over(w))
        .filter(F.col("c_lag").isNotNull())
    )
    dirs = spark.sql(
        "SELECT explode(array('click->purchase', 'purchase->click'))"
        " AS direction"
    )
    cp = F.col("direction") == "click->purchase"
    pairs = lagged.crossJoin(F.broadcast(dirs)).select(
        "direction",
        F.when(cp, F.col("purchases")).otherwise(F.col("clicks")).alias("y"),
        F.when(cp, F.col("p_lag")).otherwise(F.col("c_lag")).alias("z1"),
        F.when(cp, F.col("c_lag")).otherwise(F.col("p_lag")).alias("z2"),
    )
    s = pairs.groupBy("direction").agg(
        F.count("*").alias("n"),
        F.round(F.sum("z1"), 4).alias("s1"),
        F.round(F.sum("z2"), 4).alias("s2"),
        F.round(F.sum("y"), 4).alias("sy"),
        F.round(F.sum(F.col("z1") * F.col("z1")), 4).alias("s11"),
        F.round(F.sum(F.col("z2") * F.col("z2")), 4).alias("s22"),
        F.round(F.sum(F.col("z1") * F.col("z2")), 4).alias("s12"),
        F.round(F.sum(F.col("z1") * F.col("y")), 4).alias("s1y"),
        F.round(F.sum(F.col("z2") * F.col("y")), 4).alias("s2y"),
        F.round(F.sum(F.col("y") * F.col("y")), 4).alias("syy"),
    )
    n = F.col("n")
    c = s.select(
        "direction",
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    ssr_u = F.col("cyy") - (
        (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12"))
        * F.col("c1y")
        + (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12"))
        * F.col("c2y")
    ) / det
    ssr_r = F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")
    fit = c.withColumn("ssr_u", ssr_u).withColumn("ssr_r", ssr_r)
    return fit.select(
        "direction",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("ssr_r") / F.col("ssr_u"), 6).alias("ssr_ratio"),
        F.round(
            (F.col("ssr_r") - F.col("ssr_u"))
            / (F.col("ssr_u") / (F.col("n") - 3)),
            4,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# X581 — multi-pattern blocklist filter (the safety/compliance gate every
# corpus build runs before training)
# ---------------------------------------------------------------------------

from ..functions import text as textfn  # noqa: E402

_BLOCKLIST = ("stream", "filter", "broadcast", "nonexistentterm")
_BL_SQL = "['" + "', '".join(_BLOCKLIST) + "']"


@query(
    "q_blocklist_filter",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, source, {textfn.tokens_sql('lower(text)')} AS t
      FROM documents
    ),
    hits AS MATERIALIZED (
      SELECT doc_id, source, p.pat
      FROM tok CROSS JOIN (SELECT unnest({_BL_SQL}) AS pat) p
      WHERE list_contains(t, p.pat)
    ),
    per_pattern AS (
      SELECT b.pat AS pattern,
             CAST(count(h.doc_id) AS BIGINT) AS n_docs
      FROM (SELECT unnest({_BL_SQL}) AS pat) b
      LEFT JOIN (SELECT DISTINCT doc_id, pat FROM hits) h
        ON h.pat = b.pat
      GROUP BY b.pat
    ),
    per_source AS (
      SELECT t.source,
             count(*) AS n_docs_src,
             sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS n_blocked
      FROM tok t LEFT JOIN (SELECT DISTINCT doc_id FROM hits) h
        ON h.doc_id = t.doc_id
      GROUP BY t.source
    )
    SELECT 'pattern:' || pattern AS key, n_docs AS n,
           CAST(NULL AS DOUBLE) AS kept_frac
    FROM per_pattern
    UNION ALL
    SELECT 'source:' || source AS key,
           CAST(n_blocked AS BIGINT) AS n,
           round(1.0 - n_blocked * 1.0 / n_docs_src, 6) AS kept_frac
    FROM per_source
    """,
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X581 — multi-pattern blocklist audit: documents containing any
    blocked token are flagged; output is per-pattern hit counts (how
    hot is each list entry — including a zero-hit entry, which LEFT
    joins must keep) and per-source blocked counts + kept fraction —
    the safety/compliance filter every corpus build runs and the
    report its curators read. Token-membership semantics (not
    substring), shared tokenizer with the rest of the text stack.

    Plan: the blocklist is a literal broadcast array; matching is one
    map-side arrays_overlap/exists pass per pattern — at a 10k-entry
    real blocklist this becomes an explode + broadcast hash join
    against the list, never a scan per pattern."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        textfn.tokens(F.lower(F.col("text"))).alias("t"),
    )
    pats = spark.sql(
        "SELECT explode(array("
        + ", ".join(f"'{p}'" for p in _BLOCKLIST)
        + ")) AS pattern"
    )
    hits = (
        tok.crossJoin(F.broadcast(pats))
        .filter(F.array_contains(F.col("t"), F.col("pattern")))
        .select("doc_id", "source", "pattern")
    )
    per_pattern = (
        pats.join(hits.select("doc_id", "pattern").distinct(), "pattern", "left")
        .groupBy("pattern")
        .agg(F.count("doc_id").cast("long").alias("n"))
        .select(
            F.concat(F.lit("pattern:"), F.col("pattern")).alias("key"),
            "n",
            F.lit(None).cast("double").alias("kept_frac"),
        )
    )
    blocked = hits.select("doc_id").distinct().withColumn("blk", F.lit(1))
    per_source = (
        tok.join(blocked, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_src"),
            F.sum(F.col("blk").isNotNull().cast("int")).alias("n_blocked"),
        )
        .select(
            F.concat(F.lit("source:"), F.col("source")).alias("key"),
            F.col("n_blocked").cast("long").alias("n"),
            F.round(
                1.0 - F.col("n_blocked") * 1.0 / F.col("n_docs_src"), 6
            ).alias("kept_frac"),
        )
    )
    return per_pattern.unionByName(per_source)


# ---------------------------------------------------------------------------
# X582 — Stupid Backoff bigram scoring (Brants et al. 2007)
# ---------------------------------------------------------------------------

from .textlm import _BIGRAMS_SQL, bigram_rows  # noqa: E402


@query(
    "q_stupid_backoff",
    oracle=f"""
    WITH {_BIGRAMS_SQL},
    bg_counts AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
    ),
    uni AS MATERIALIZED (
      SELECT w1 AS w, count(*) AS c1 FROM bg GROUP BY 1
    ),
    uni2 AS MATERIALIZED (
      SELECT w2 AS w, count(*) AS c2 FROM bg GROUP BY 1
    ),
    total AS MATERIALIZED (SELECT count(*) AS nn FROM bg),
    scored AS (
      SELECT b.doc_id,
             round(log10(
               CASE WHEN bc.c12 IS NOT NULL
                 THEN bc.c12 * 1.0 / u.c1
                 ELSE 0.4 * coalesce(u2.c2, 0) * 1.0 / t.nn
               END + 1e-12), 6) AS lg
      FROM bg b
      LEFT JOIN bg_counts bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
      LEFT JOIN uni u ON u.w = b.w1
      LEFT JOIN uni2 u2 ON u2.w = b.w2
      CROSS JOIN total t
    ),
    per_doc AS (
      SELECT doc_id, round(avg(lg), 6) AS doc_score FROM scored
      GROUP BY doc_id
    )
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p.doc_score), 6) AS mean_score,
           round(min(p.doc_score), 6) AS min_score
    FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """,
)
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X582 — Stupid Backoff bigram LM scoring (Brants et al. 2007,
    the web-scale LM that skips normalization): score(w₂|w₁) =
    c(w₁w₂)/c(w₁·) when seen, else 0.4·c(·w₂)/N — per-doc mean log10
    score rolled up per source. The third rung of the LM-quality
    ladder next to X167's MLE bigram perplexity and X393's Kneser-Ney:
    SB is what actually runs at corpus scale because its counts are
    plain mergeable sums (no discount bookkeeping), which is also why
    the streaming X318-style store could maintain it incrementally.

    Plan: bigram counts shuffle on (w₁,w₂) with map-side combine; the
    scoring join is bigram ⋈ count tables on their natural keys. The
    trained model is identical in both engines, so the gate pins the
    scoring arithmetic end-to-end."""
    return LM_COUNTS.batch(spark, sf_dir)


def lm_bigram_counts(d: DataFrame) -> DataFrame:
    """Documents → (w1, w2, c12) bigram counts."""
    return bigram_rows(d).groupBy("w1", "w2").agg(F.count("*").alias("c12"))


def lm_unigram_counts(d: DataFrame) -> DataFrame:
    """Documents → (w, c1, c2): per word, its count as a bigram's left
    word and as its right word."""
    bg = bigram_rows(d)
    return (
        bg.select(
            F.col("w1").alias("w"), F.lit(1).alias("l"), F.lit(0).alias("r")
        )
        .unionByName(
            bg.select(
                F.col("w2").alias("w"),
                F.lit(0).alias("l"),
                F.lit(1).alias("r"),
            )
        )
        .groupBy("w")
        .agg(F.sum("l").alias("c1"), F.sum("r").alias("c2"))
    )


def lm_score_with_counts(
    docs: DataFrame, bigrams: DataFrame, unigrams: DataFrame
) -> DataFrame:
    """(documents, bigram counts, unigram counts) → the
    q_stupid_backoff per-source scores."""
    bg = bigram_rows(docs, "doc_id", "source")
    total = bigrams.agg(F.sum("c12").alias("total"))
    uni = unigrams.select("w", "c1", "c2")
    scored = (
        bg.join(bigrams.select("w1", "w2", "c12"), ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), "c2"), "w2", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            F.round(
                F.log10(
                    F.when(
                        F.col("c12").isNotNull(),
                        F.col("c12") * 1.0 / F.col("c1"),
                    ).otherwise(
                        0.4
                        * F.coalesce(F.col("c2"), F.lit(0))
                        * 1.0
                        / F.col("total")
                    )
                    + 1e-12
                ),
                6,
            ).alias("lg"),
        )
    )
    # every lg has 6 decimals, so a doc's mean can sit exactly on a
    # 7th-decimal tie: average exactly in decimal and round it half-up,
    # as DuckDB's round does, whatever order a double sum would run in
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.round(F.avg(F.col("lg").cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("doc_score")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("doc_score"), 6).alias("mean_score"),
        F.round(F.min("doc_score"), 6).alias("min_score"),
    )


#: X582's streaming face: bigram and two-sided unigram counts are plain
#: sums, so scoring is a read-side view that never needs the text again
LM_COUNTS = StoreSpec(
    "documents",
    (
        Cells("bigrams", ("w1", "w2"), lm_bigram_counts),
        Cells("unigrams", ("w",), lm_unigram_counts),
    ),
    lm_score_with_counts,
    reads_source=True,
)


# ---------------------------------------------------------------------------
# X583 — Holm-Bonferroni step-down multiple-testing correction
# ---------------------------------------------------------------------------


@query(
    "q_holm_bonferroni",
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT event_type,
             count(*) AS n,
             round(sum(value), 4) AS s,
             round(sum(value * value), 4) AS ss
      FROM events GROUP BY 1
    ),
    pooled AS MATERIALIZED (
      SELECT count(*) AS n, round(sum(value), 4) AS s,
             round(sum(value * value), 4) AS ss
      FROM events
    ),
    z AS MATERIALIZED (
      SELECT c.event_type,
             round(abs(c.s / c.n - p.s / p.n)
                   / sqrt((c.ss / c.n - (c.s / c.n) * (c.s / c.n)) / c.n
                          + (p.ss / p.n - (p.s / p.n) * (p.s / p.n)) / p.n),
                   6) AS zv
      FROM cells c CROSS JOIN pooled p
    ),
    p AS MATERIALIZED (
      SELECT event_type,
             round(1 - (1 - (0.254829592 * (1/(1 + 0.3275911 * (zv)/sqrt(2))) - 0.284496736 * pow(1/(1 + 0.3275911 * (zv)/sqrt(2)), 2) + 1.421413741 * pow(1/(1 + 0.3275911 * (zv)/sqrt(2)), 3) - 1.453152027 * pow(1/(1 + 0.3275911 * (zv)/sqrt(2)), 4) + 1.061405429 * pow(1/(1 + 0.3275911 * (zv)/sqrt(2)), 5)) * exp(-((zv) * (zv)) / 2)), 8) AS pv
      FROM z
    ),
    ranked AS (
      SELECT event_type, pv,
             row_number() OVER (ORDER BY pv, event_type) AS rk,
             count(*) OVER () AS m
      FROM p
    ),
    stepped AS (
      SELECT event_type, pv, rk, m,
             max(least((m - rk + 1) * pv, 1.0))
               OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS p_holm
      FROM ranked
    )
    SELECT event_type, round(pv, 8) AS p_raw,
           round(p_holm, 8) AS p_holm,
           CAST(p_holm <= 0.05 AS BOOLEAN) AS reject_05
    FROM stepped
    """,
)
def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X583 — Holm-Bonferroni step-down correction over the family of
    per-event-type mean-vs-pooled z-tests: order the m raw p-values
    ascending, adjusted pᵢ = max over the prefix of min((m−i+1)·pᵢ, 1)
    (a running max keeps the adjusted sequence monotone), reject while
    adjusted ≤ α. The family-wise-error companion to X372's
    Benjamini-Hochberg FDR — Holm controls FWER with no independence
    assumption, which is what a dashboard of correlated per-segment
    tests actually needs. One aggregation pass + one m-row window."""
    from .round4o import _p_two_sided

    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("s"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("ss"),
    )
    pooled = ev.agg(
        F.count("*").alias("pn"),
        F.round(F.sum("value"), 4).alias("ps"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("pss"),
    )
    j = cells.crossJoin(F.broadcast(pooled))
    mean_c = F.col("s") / F.col("n")
    mean_p = F.col("ps") / F.col("pn")
    var_c = (F.col("ss") / F.col("n") - mean_c * mean_c) / F.col("n")
    var_p = (F.col("pss") / F.col("pn") - mean_p * mean_p) / F.col("pn")
    z = j.select(
        "event_type",
        F.round(
            F.abs(mean_c - mean_p) / F.sqrt(var_c + var_p), 6
        ).alias("zv"),
    )
    p = z.select(
        "event_type",
        F.round(_p_two_sided(F.col("zv")), 8).alias("pv"),
    )
    w_rank = Window.orderBy("pv", "event_type")
    ranked = p.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(Window.partitionBy())
    )
    w_run = Window.orderBy("rk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = ranked.withColumn(
        "p_holm",
        F.max(
            F.least((F.col("m") - F.col("rk") + 1) * F.col("pv"), F.lit(1.0))
        ).over(w_run),
    )
    return stepped.select(
        "event_type",
        F.round("pv", 8).alias("p_raw"),
        F.round("p_holm", 8).alias("p_holm"),
        (F.col("p_holm") <= 0.05).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# X584 — the reusable IVF operator's raw output under the gate
# ---------------------------------------------------------------------------

from ..operators import ann as _ann  # noqa: E402

_ANN_OP_ORACLE = f"""
    WITH corpus AS (
      SELECT vec_id AS n_id, embedding AS emb FROM embeddings
    ), qs AS (
      SELECT vec_id AS q_id, embedding AS q_emb
      FROM embeddings WHERE vec_id % 40 = 0
    ), cent AS (
      SELECT n_id AS c_id, emb AS c_emb FROM corpus WHERE n_id % 50 = 0
    ), {_ann.ivf_search_sql("corpus", "qs", "cent", k=3, nprobe=2)}
    SELECT q_id, n_id, score, CAST(rn AS BIGINT) AS rn FROM ivf_topk
    """


@query("q_ann_operator", oracle=_ANN_OP_ORACLE)
def q_ann_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X584 — operators/ann.ivf_search's RAW output under the value-hash
    gate: top-3 cosine neighbors for every 40th vector through the
    nprobe=2 inverted-list routing, with the DuckDB oracle replaying
    the identical routing via ivf_search_sql. X278/X231 pin the
    operator THROUGH downstream consumers (vote matrices, label
    filters); this pins the (q_id, n_id, score, rn) contract itself,
    so an off-by-one in probe ranking or a tie-break drift anywhere in
    the shared operator fails one focused query."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("emb")
    )
    qs = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    got = _ann.ivf_search(corpus, qs, k=3, nprobe=2, every=50, residue=0)
    return got.select("q_id", "n_id", "score", F.col("rn").cast("long").alias("rn"))


# ---------------------------------------------------------------------------
# X585 — ntile / cume_dist distribution windows
# ---------------------------------------------------------------------------


@query(
    "q_ntile_cume",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag, l_quantity, l_orderkey, l_linenumber,
             ntile(4) OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity, l_orderkey, l_linenumber)
               AS quartile,
             cume_dist() OVER (PARTITION BY l_returnflag
                               ORDER BY l_quantity) AS cd
      FROM lineitem
    )
    SELECT flag, CAST(quartile AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l_quantity), 2) AS q_min,
           round(max(l_quantity), 2) AS q_max,
           round(max(cd), 6) AS max_cume_dist
    FROM ranked GROUP BY flag, quartile
    """,
)
def q_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X585 — the distribution-window family ntile + cume_dist
    (completing the analytic-window surface next to rank/dense_rank
    X161 and percent_rank/nth_value X324): quartile buckets of order
    quantity per return flag with each bucket's quantity range and top
    cumulative-distribution value. ntile's bucket boundaries depend on
    total order, so the ORDER BY carries (quantity, orderkey,
    linenumber) — fully deterministic ties, the discipline every
    windowed query here follows. cume_dist ties only on quantity
    (its value is tie-invariant by definition)."""
    li = load(spark, sf_dir, "lineitem")
    w_nt = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    w_cd = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    ranked = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_quantity",
        F.ntile(4).over(w_nt).alias("quartile"),
        F.cume_dist().over(w_cd).alias("cd"),
    )
    return ranked.groupBy("flag", F.col("quartile").cast("long").alias("quartile")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("l_quantity"), 2).alias("q_min"),
        F.round(F.max("l_quantity"), 2).alias("q_max"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


# ---------------------------------------------------------------------------
# X586 — fill-in-the-middle (FIM) pretraining transform
# ---------------------------------------------------------------------------


@query(
    "q_fim_transform",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, text, length(text) AS n,
             CAST(floor(length(text) * 0.4) AS BIGINT) AS cut1,
             CAST(floor(length(text) * 0.6) AS BIGINT) AS cut2,
             doc_id % 2 = 0 AS fim
      FROM documents
    ),
    xf AS (
      SELECT doc_id, source, fim, n,
             CASE WHEN fim THEN
               '<PRE>' || substr(text, 1, CAST(cut1 AS INT))
               || '<SUF>' || substr(text, CAST(cut2 + 1 AS INT))
               || '<MID>' || substr(text, CAST(cut1 + 1 AS INT),
                                    CAST(cut2 - cut1 AS INT))
             ELSE text END AS out_text
      FROM base
    )
    SELECT source, CAST(sum(CASE WHEN fim THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fim,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(out_text)) AS BIGINT) AS total_chars,
           md5(string_agg(md5(out_text), '' ORDER BY doc_id)) AS corpus_sig
    FROM xf GROUP BY source
    """,
)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X586 — fill-in-the-middle pretraining transform (Bavarian et
    al. 2022): half the corpus (doc_id parity — the deterministic
    stand-in for the paper's 50% FIM rate) is rewritten
    prefix-suffix-middle with sentinel tokens, cuts at the 40%/60%
    character marks; the rest passes through. Output per source:
    transformed-doc count, total characters (sentinels add 15/doc),
    and an order-pinned md5-of-md5s corpus signature — one wrong byte
    in any split or reorder anywhere breaks the hash. This is the
    standard infilling-capable LM data op, sitting next to X316's T5
    span corruption on the objective-transform shelf.

    Plan: pure per-row string projection (substring arithmetic, no
    UDF), one per-source aggregation; at 100 TB this is a map-only
    stage that parquet write pipelines absorb."""
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    cut1 = F.floor(n * 0.4).cast("int")
    cut2 = F.floor(n * 0.6).cast("int")
    fim = F.col("doc_id") % 2 == 0
    out_text = F.when(
        fim,
        F.concat(
            F.lit("<PRE>"),
            F.col("text").substr(F.lit(1), cut1),
            F.lit("<SUF>"),
            F.col("text").substr(cut2 + 1, n),
            F.lit("<MID>"),
            F.col("text").substr(cut1 + 1, cut2 - cut1),
        ),
    ).otherwise(F.col("text"))
    xf = d.select(
        "doc_id",
        "source",
        fim.alias("fim"),
        out_text.alias("out_text"),
    )
    return xf.groupBy("source").agg(
        F.sum(F.col("fim").cast("int")).cast("long").alias("n_fim"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("out_text")).cast("long").alias("total_chars"),
        F.md5(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("doc_id"), F.md5("out_text"))
                    )
                ).getField("col2"),
            )
        ).alias("corpus_sig"),
    )


# ---------------------------------------------------------------------------
# X587 — table-valued functions in FROM position
# ---------------------------------------------------------------------------


@query(
    "q_tvf_family",
    oracle="""
    WITH cal AS (
      SELECT CAST(r.range AS BIGINT) AS wk FROM range(0, 53) r
    ),
    v AS (
      SELECT * FROM (VALUES ('O', 'open'), ('F', 'fulfilled'),
                            ('P', 'pending')) AS t(status, label)
    ),
    o AS (
      SELECT CAST(floor(date_diff('day',
               (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
               CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT) AS wk,
             o_orderstatus AS status, o_totalprice
      FROM orders
    )
    SELECT cal.wk, coalesce(v.label, 'none') AS label,
           CAST(count(o.status) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS revenue
    FROM cal
    LEFT JOIN o ON o.wk = cal.wk
    LEFT JOIN v ON v.status = o.status
    GROUP BY cal.wk, coalesce(v.label, 'none')
    """,
)
def q_tvf_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X587 — table-valued functions in FROM position: a range() TVF
    calendar spine LEFT-joined to weekly order rollups, with a VALUES
    inline table decoding status codes — the idiomatic
    gap-preserving-report shape (weeks with zero orders still appear).
    Exercises the Spark SQL TVF surface (range, inline VALUES) that
    the DataFrame-first queries elsewhere never touch; both engines
    run the same ANSI text modulo the TVF spelling."""
    cal = spark.sql("SELECT id AS wk FROM range(0, 53)")
    v = spark.sql(
        "SELECT * FROM VALUES ('O', 'open'), ('F', 'fulfilled'),"
        " ('P', 'pending') AS t(status, label)"
    )
    o = load(spark, sf_dir, "orders")
    min_d = o.agg(F.min(F.to_date("o_orderdate")).alias("m"))
    ow = o.crossJoin(F.broadcast(min_d)).select(
        (
            F.datediff(F.to_date("o_orderdate"), F.col("m")) / 7
        ).cast("long").alias("wk"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return (
        cal.join(ow, "wk", "left")
        .join(F.broadcast(v), "status", "left")
        .groupBy("wk", F.coalesce(F.col("label"), F.lit("none")).alias("label"))
        .agg(
            F.count("status").cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X588 — Aalen-Johansen cumulative incidence (competing risks)
# ---------------------------------------------------------------------------


@query(
    "q_aalen_johansen",
    oracle="""
    WITH subj AS MATERIALIZED (
      SELECT o_orderkey,
             date_diff('day', CAST(o_orderdate AS DATE),
                       min(CAST(l.l_shipdate AS DATE))) AS t,
             min(l.l_returnflag) AS risk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
      HAVING date_diff('day', CAST(o_orderdate AS DATE),
                       min(CAST(l.l_shipdate AS DATE))) >= 0
    ),
    times AS MATERIALIZED (
      SELECT t, count(*) AS d_all,
             sum(CASE WHEN risk = 'R' THEN 1 ELSE 0 END) AS d_r,
             sum(CASE WHEN risk = 'A' THEN 1 ELSE 0 END) AS d_a
      FROM subj GROUP BY t
    ),
    risk_set AS MATERIALIZED (
      SELECT t, d_all, d_r, d_a,
             sum(d_all) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
               AS n_at_risk
      FROM times
    ),
    km AS MATERIALIZED (
      SELECT t, d_all, d_r, d_a, n_at_risk,
             exp(sum(ln(greatest(1.0 - d_all * 1.0 / n_at_risk, 1e-12)))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) AS s_t,
             coalesce(exp(sum(ln(greatest(1.0 - d_all * 1.0 / n_at_risk,
                                          1e-12)))
                 OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)), 1.0) AS s_prev
      FROM risk_set
    ),
    cif AS (
      SELECT t, n_at_risk, d_r, d_a,
             sum(s_prev * d_r / n_at_risk)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cif_r,
             sum(s_prev * d_a / n_at_risk)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cif_a,
             s_t
      FROM km
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(s_t, 6) AS surv,
           round(cif_r, 6) AS cif_returned,
           round(cif_a, 6) AS cif_accepted
    FROM cif WHERE t % 7 = 0
    """,
)
def q_aalen_johansen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X588 — Aalen-Johansen cumulative incidence under COMPETING
    risks: each order 'fails' at its first shipment with competing
    outcomes R(eturned) vs A(ccepted) (N censors nothing here — every
    order ships, making the all-events KM the common survival).
    CIFₖ(t) = Σ_{tᵢ≤t} S(tᵢ⁻)·dₖ(tᵢ)/nᵢ — the fix for the classic
    mistake of running per-cause KM (X198) when causes compete, which
    overestimates every cause's incidence. S(t⁻) via the exp-sum-ln
    cumulative product, the X198 trick; the decreasing risk set is a
    reverse running sum. Weekly grid rows keep the output bounded.

    Plan: one per-order rollup shuffle, then three windows over the
    (distinct event time) table — a few hundred rows at any corpus
    size, the standard survival-curve shape."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    subj = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("od"))
        .agg(
            F.min(F.to_date("l_shipdate")).alias("ship"),
            F.min("l_returnflag").alias("risk"),
        )
        .select(
            F.datediff("ship", "od").alias("t"),
            "risk",
        )
        .filter(F.col("t") >= 0)
    )
    times = subj.groupBy("t").agg(
        F.count("*").alias("d_all"),
        F.sum((F.col("risk") == "R").cast("int")).alias("d_r"),
        F.sum((F.col("risk") == "A").cast("int")).alias("d_a"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk_set = times.withColumn("n_at_risk", F.sum("d_all").over(w_desc))
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    ln_term = F.log(
        F.greatest(
            1.0 - F.col("d_all") * 1.0 / F.col("n_at_risk"), F.lit(1e-12)
        )
    )
    km = risk_set.withColumn(
        "s_t", F.exp(F.sum(ln_term).over(w_asc))
    ).withColumn(
        "s_prev",
        F.coalesce(F.exp(F.sum(ln_term).over(w_prev)), F.lit(1.0)),
    )
    cif = (
        km.withColumn(
            "cif_r",
            F.sum(
                F.col("s_prev") * F.col("d_r") / F.col("n_at_risk")
            ).over(w_asc),
        )
        .withColumn(
            "cif_a",
            F.sum(
                F.col("s_prev") * F.col("d_a") / F.col("n_at_risk")
            ).over(w_asc),
        )
    )
    return cif.filter(F.col("t") % 7 == 0).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round("s_t", 6).alias("surv"),
        F.round("cif_r", 6).alias("cif_returned"),
        F.round("cif_a", 6).alias("cif_accepted"),
    )


# ---------------------------------------------------------------------------
# X589 — Theta-method forecast (Assimakopoulos & Nikolopoulos 2000)
# ---------------------------------------------------------------------------


@query(
    "q_theta_forecast",
    oracle="""
    WITH monthly0 AS MATERIALIZED (
      SELECT o_orderpriority AS pri,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS m,
             round(sum(o_totalprice), 2) AS y
      FROM orders GROUP BY 1, 2
    ),
    monthly AS MATERIALIZED (
      SELECT pri, y,
             row_number() OVER (PARTITION BY pri ORDER BY m) - 1 AS t,
             count(*) OVER (PARTITION BY pri) AS n
      FROM monthly0
    ),
    s AS MATERIALIZED (
      SELECT pri, max(n) AS n,
             round(sum(t * 1.0), 4) AS sx, round(sum(y), 4) AS sy,
             round(sum(t * 1.0 * t), 4) AS sxx, round(sum(t * y), 4) AS sxy
      FROM monthly GROUP BY pri
    ),
    fit AS MATERIALIZED (
      SELECT pri, n, sx, sy, sxx, sxy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
      FROM s
    ),
    theta2 AS MATERIALIZED (
      SELECT m.pri, m.t, m.n,
             round(2.0 * m.y - (f.a + f.b * m.t), 4) AS z
      FROM monthly m JOIN fit f ON f.pri = m.pri
    ),
    ses AS MATERIALIZED (
      SELECT pri, n,
             round(sum(CASE WHEN t = 0
                       THEN pow(0.5, n - 1.0) * z
                       ELSE 0.5 * pow(0.5, n - 1.0 - t) * z END), 4)
               AS level
      FROM theta2 GROUP BY pri, n
    )
    SELECT f.pri AS o_orderpriority, CAST(f.n AS BIGINT) AS n_months,
           round(f.b, 4) AS trend_slope,
           round(s.level, 4) AS theta2_level,
           round((s.level + (f.a + f.b * f.n)) / 2.0, 4) AS forecast_1,
           round((s.level + (f.a + f.b * (f.n + 1))) / 2.0, 4) AS forecast_2
    FROM fit f JOIN ses s ON s.pri = f.pri
    """,
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X589 — the Theta method (M3-competition winner, Assimakopoulos
    & Nikolopoulos 2000), classical decomposition form: the theta=0
    line is the linear trend, the theta=2 line 2y−trend doubles local
    curvature and is smoothed by SES (α=0.5, closed form — with fixed
    α the recursive level is the exact weighted sum
    Σ α(1−α)^{n−1−t}·zₜ with the t=0 term carrying (1−α)^{n−1}, so no
    sequential fold is needed); forecasts average the two lines'
    extrapolations. Sits next to Holt (X218), Holt-Winters (X340) and
    AR (X531) on the forecasting shelf — Theta is what M-competition
    practice actually defaults to for un-seasonal monthly series.
    Sufficient-statistics plan: two aggregations + one window rank."""
    o = load(spark, sf_dir, "orders")
    monthly0 = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("m"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("y"))
    w_rank = Window.partitionBy("pri").orderBy("m")
    w_all = Window.partitionBy("pri")
    monthly = monthly0.select(
        "pri",
        "y",
        (F.row_number().over(w_rank) - 1).alias("t"),
        F.count("*").over(w_all).alias("n"),
    )
    s = monthly.groupBy("pri").agg(
        F.max("n").alias("n"),
        F.round(F.sum(F.col("t") * 1.0), 4).alias("sx"),
        F.round(F.sum("y"), 4).alias("sy"),
        F.round(F.sum(F.col("t") * 1.0 * F.col("t")), 4).alias("sxx"),
        F.round(F.sum(F.col("t") * F.col("y")), 4).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = s.withColumn("b", b).withColumn(
        "a", (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
    )
    theta2 = monthly.join(fit.select("pri", "a", "b"), "pri").select(
        "pri",
        "t",
        "n",
        F.round(
            2.0 * F.col("y") - (F.col("a") + F.col("b") * F.col("t")), 4
        ).alias("z"),
    )
    ses = theta2.groupBy("pri", "n").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("t") == 0,
                    F.pow(0.5, F.col("n") - 1.0) * F.col("z"),
                ).otherwise(
                    0.5
                    * F.pow(0.5, F.col("n") - 1.0 - F.col("t"))
                    * F.col("z")
                )
            ),
            4,
        ).alias("level")
    )
    j = fit.join(ses.select("pri", "level"), "pri")
    return j.select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n").cast("long").alias("n_months"),
        F.round("b", 4).alias("trend_slope"),
        F.round("level", 4).alias("theta2_level"),
        F.round(
            (F.col("level") + (F.col("a") + F.col("b") * F.col("n"))) / 2.0,
            4,
        ).alias("forecast_1"),
        F.round(
            (F.col("level") + (F.col("a") + F.col("b") * (F.col("n") + 1)))
            / 2.0,
            4,
        ).alias("forecast_2"),
    )


# ---------------------------------------------------------------------------
# X590 — clustering quality: purity + NMI of the semantic clusters
# ---------------------------------------------------------------------------

from ..operators import vq  # noqa: E402


@query(
    "q_cluster_purity",
    oracle=f"""
    WITH {vq.kmeans_ctes(k=8, iters=2)},
    cl AS MATERIALIZED (
      SELECT a.vec_id, a.cid, e.label
      FROM assign2 a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    joint AS MATERIALIZED (
      SELECT cid, label, count(*) AS n_cl FROM cl GROUP BY 1, 2
    ),
    per_c AS MATERIALIZED (
      SELECT cid, sum(n_cl) AS n_c, max(n_cl) AS n_maj
      FROM joint GROUP BY cid
    ),
    per_l AS MATERIALIZED (
      SELECT label, sum(n_cl) AS n_l FROM joint GROUP BY label
    ),
    tot AS MATERIALIZED (SELECT sum(n_cl) AS nn FROM joint),
    mi AS (
      SELECT round(sum((j.n_cl * 1.0 / t.nn)
                 * ln(t.nn * 1.0 * j.n_cl / (c.n_c * 1.0 * l.n_l))), 6)
               AS i_cl
      FROM joint j
      JOIN per_c c ON c.cid = j.cid
      JOIN per_l l ON l.label = j.label
      CROSS JOIN tot t
    ),
    ents AS (
      SELECT round(-sum((n_c * 1.0 / t.nn) * ln(n_c * 1.0 / t.nn)), 6)
               AS h_c
      FROM per_c CROSS JOIN tot t
    ),
    entl AS (
      SELECT round(-sum((n_l * 1.0 / t.nn) * ln(n_l * 1.0 / t.nn)), 6)
               AS h_l
      FROM per_l CROSS JOIN tot t
    )
    SELECT CAST(t.nn AS BIGINT) AS n_vectors,
           CAST((SELECT count(*) FROM per_c) AS BIGINT) AS n_clusters,
           CAST((SELECT count(*) FROM per_l) AS BIGINT) AS n_labels,
           round((SELECT sum(n_maj) FROM per_c) * 1.0 / t.nn, 6) AS purity,
           round(m.i_cl / sqrt(e1.h_c * e2.h_l), 6) AS nmi
    FROM tot t CROSS JOIN mi m CROSS JOIN ents e1 CROSS JOIN entl e2
    """,
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X590 — external clustering-quality evaluation of the engine's
    own semantic clusters (the k=8 deterministic Lloyd codebook the
    SemDeDup gate pins) against the embedding labels: PURITY
    (Σ_c max_l n_cl / N) and NMI (I(C;L)/√(H(C)·H(L))) — the two
    numbers every clustering paper reports, closing the eval loop the
    ANN family already has (X86 recall, X279 LSH recall). All three
    tables are count rollups of the (cluster, label) contingency;
    the entropies and MI are pure double arithmetic over rounded
    ratios of exact integer counts."""
    from ..operators.semdedup import assign_clusters, train_centroids

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = train_centroids(e, k=8, iters=2)
    cl = assign_clusters(e, cent).select("vec_id", "cid").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    joint = cl.groupBy("cid", "label").agg(F.count("*").alias("n_cl"))
    per_c = joint.groupBy("cid").agg(
        F.sum("n_cl").alias("n_c"), F.max("n_cl").alias("n_maj")
    )
    per_l = joint.groupBy("label").agg(F.sum("n_cl").alias("n_l"))
    tot = joint.agg(F.sum("n_cl").alias("nn"))
    mi = (
        joint.join(per_c.select("cid", "n_c"), "cid")
        .join(per_l, "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    (F.col("n_cl") * 1.0 / F.col("nn"))
                    * F.log(
                        F.col("nn")
                        * 1.0
                        * F.col("n_cl")
                        / (F.col("n_c") * 1.0 * F.col("n_l"))
                    )
                ),
                6,
            ).alias("i_cl")
        )
    )
    h_c = per_c.crossJoin(F.broadcast(tot)).agg(
        F.round(
            -F.sum(
                (F.col("n_c") * 1.0 / F.col("nn"))
                * F.log(F.col("n_c") * 1.0 / F.col("nn"))
            ),
            6,
        ).alias("h_c")
    )
    h_l = per_l.crossJoin(F.broadcast(tot)).agg(
        F.round(
            -F.sum(
                (F.col("n_l") * 1.0 / F.col("nn"))
                * F.log(F.col("n_l") * 1.0 / F.col("nn"))
            ),
            6,
        ).alias("h_l")
    )
    counts = tot.crossJoin(
        per_c.agg(
            F.count("*").alias("n_clusters"),
            F.sum("n_maj").alias("maj"),
        )
    ).crossJoin(per_l.agg(F.count("*").alias("n_labels")))
    return (
        counts.crossJoin(mi).crossJoin(h_c).crossJoin(h_l).select(
            F.col("nn").cast("long").alias("n_vectors"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_labels").cast("long").alias("n_labels"),
            F.round(F.col("maj") * 1.0 / F.col("nn"), 6).alias("purity"),
            F.round(
                F.col("i_cl") / F.sqrt(F.col("h_c") * F.col("h_l")), 6
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# X591 — skip-gram training-pair generation (window=2)
# ---------------------------------------------------------------------------


@query(
    "q_skipgram_pairs",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, {textfn.tokens_sql('lower(text)')} AS t
      FROM documents
      WHERE len({textfn.tokens_sql('lower(text)')}) >= 2
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, unnest(t) AS center,
             unnest(range(1, len(t) + 1)) AS p, t
      FROM tok
    ),
    pairs AS MATERIALIZED (
      SELECT center, t[p + d.off] AS context, d.off AS off
      FROM pos CROSS JOIN (
        SELECT unnest([-2, -1, 1, 2]) AS off) d
      WHERE p + d.off >= 1 AND p + d.off <= len(t)
    )
    SELECT center, context, CAST(off AS BIGINT) AS off,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY center, context, off
    HAVING count(*) >= 5
    """,
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X591 — skip-gram (center, context, offset) training-pair
    generation with window 2, the word2vec data build: every token
    pairs with its ±1/±2 neighbors, counted per signed offset so the
    downstream sampler can weight by distance. The ≥5 support cut
    bounds output to the pair vocabulary that matters (full pairs
    stream to parquet in production; the count table is what the
    X331 negative sampler joins against).

    Plan: one explode to (doc, position, token) and a length-guarded
    element_at per offset — map-side until the final (center, context,
    off) count shuffle with partial aggregation."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", textfn.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    pos = tok.select(
        F.posexplode("t").alias("p0", "center"), F.col("t")
    ).withColumn("p", F.col("p0") + 1)
    offs = spark.sql("SELECT explode(array(-2, -1, 1, 2)) AS off")
    pairs = (
        pos.crossJoin(F.broadcast(offs))
        .filter(
            (F.col("p") + F.col("off") >= 1)
            & (F.col("p") + F.col("off") <= F.size("t"))
        )
        .select(
            "center",
            F.element_at("t", (F.col("p") + F.col("off")).cast("int")).alias(
                "context"
            ),
            "off",
        )
    )
    return (
        pairs.groupBy("center", "context", F.col("off").cast("long").alias("off"))
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= 5)
    )


# ---------------------------------------------------------------------------
# X592 — intraclass correlation ICC(1) from one-way ANOVA sums
# ---------------------------------------------------------------------------


@query(
    "q_icc",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT o_orderpriority AS grp, count(*) AS n_i,
             round(sum(o_totalprice / 100000.0), 6) AS s_i,
             round(sum((o_totalprice / 100000.0)
                       * (o_totalprice / 100000.0)), 6) AS ss_i
      FROM orders GROUP BY 1
    ),
    tot AS MATERIALIZED (
      SELECT count(*) AS m, sum(n_i) AS nn,
             round(sum(s_i), 4) AS s, round(sum(ss_i), 4) AS ss,
             round(sum(s_i * s_i / n_i), 4) AS sb,
             round(sum(n_i * 1.0 * n_i), 4) AS sn2
      FROM g
    ),
    anova AS (
      SELECT m, nn,
             (sb - s * s / nn) / (m - 1) AS msb,
             (ss - sb) / (nn - m) AS msw,
             (nn - sn2 / nn) / (m - 1) AS k0
      FROM tot
    )
    SELECT CAST(m AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n,
           round(msb, 6) AS ms_between,
           round(msw, 6) AS ms_within,
           round(k0, 6) AS k0,
           round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1
    FROM anova
    """,
)
def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X592 — intraclass correlation ICC(1), one-way random effects,
    from the ANOVA sufficient statistics: how much of order-price
    variance lives BETWEEN priority classes vs within them —
    ICC(1) = (MSB − MSW)/(MSB + (k₀−1)·MSW) with the unequal-group
    correction k₀ = (N − Σnᵢ²/N)/(m−1). The reliability companion to
    X283's ANOVA F (same decomposition, effect-size framing vs test
    framing) and X386's Cronbach α (which is ICC of item averages).
    Prices pre-scale by 1e-5 (ICC is scale-invariant) so the
    squared sums stay O(n) — the q_chow magnitude lesson.
    One aggregation pass; the group table is m rows."""
    o = load(spark, sf_dir, "orders")
    y = F.col("o_totalprice") / 100000.0
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n_i"),
        F.round(F.sum(y), 6).alias("s_i"),
        F.round(F.sum(y * y), 6).alias("ss_i"),
    )
    tot = g.agg(
        F.count("*").alias("m"),
        F.sum("n_i").alias("nn"),
        F.round(F.sum("s_i"), 4).alias("s"),
        F.round(F.sum("ss_i"), 4).alias("ss"),
        F.round(F.sum(F.col("s_i") * F.col("s_i") / F.col("n_i")), 4).alias(
            "sb"
        ),
        F.round(F.sum(F.col("n_i") * 1.0 * F.col("n_i")), 4).alias("sn2"),
    )
    msb = (F.col("sb") - F.col("s") * F.col("s") / F.col("nn")) / (
        F.col("m") - 1
    )
    msw = (F.col("ss") - F.col("sb")) / (F.col("nn") - F.col("m"))
    k0 = (F.col("nn") - F.col("sn2") / F.col("nn")) / (F.col("m") - 1)
    a = tot.withColumn("msb", msb).withColumn("msw", msw).withColumn(
        "k0", k0
    )
    return a.select(
        F.col("m").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n"),
        F.round("msb", 6).alias("ms_between"),
        F.round("msw", 6).alias("ms_within"),
        F.round("k0", 6).alias("k0"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("k0") - 1) * F.col("msw")),
            6,
        ).alias("icc1"),
    )


# ---------------------------------------------------------------------------
# X593 — TOST equivalence testing
# ---------------------------------------------------------------------------

# one-sided upper-tail normal p with a signed CASE around the A&S
# polynomial (valid for z >= 0 only): P(Z > z)
_PHI_UPPER_SQL = """(CASE WHEN ({z}) >= 0
  THEN 0.5 * (1 - (1 - (0.254829592 * (1/(1 + 0.3275911 * ({z})/sqrt(2))) - 0.284496736 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 2) + 1.421413741 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 3) - 1.453152027 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 4) + 1.061405429 * pow(1/(1 + 0.3275911 * ({z})/sqrt(2)), 5)) * exp(-(({z}) * ({z})) / 2)))
  ELSE 1 - 0.5 * (1 - (1 - (0.254829592 * (1/(1 + 0.3275911 * (-({z}))/sqrt(2))) - 0.284496736 * pow(1/(1 + 0.3275911 * (-({z}))/sqrt(2)), 2) + 1.421413741 * pow(1/(1 + 0.3275911 * (-({z}))/sqrt(2)), 3) - 1.453152027 * pow(1/(1 + 0.3275911 * (-({z}))/sqrt(2)), 4) + 1.061405429 * pow(1/(1 + 0.3275911 * (-({z}))/sqrt(2)), 5)) * exp(-(({z}) * ({z})) / 2)))
  END)"""


def _phi_upper(z):
    """P(Z > z) via the shared A&S polynomial, signed."""
    from .round4o import _p_two_sided

    half = _p_two_sided(F.abs(z)) / 2
    return F.when(z >= 0, half).otherwise(1 - half)


@query(
    "q_tost",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT event_type, count(*) AS n,
             round(sum(value), 4) AS s,
             round(sum(value * value), 4) AS ss
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ),
    w AS MATERIALIZED (
      SELECT max(CASE WHEN event_type = 'click' THEN n END) AS n1,
             max(CASE WHEN event_type = 'click' THEN s END) AS s1,
             max(CASE WHEN event_type = 'click' THEN ss END) AS ss1,
             max(CASE WHEN event_type = 'view' THEN n END) AS n2,
             max(CASE WHEN event_type = 'view' THEN s END) AS s2,
             max(CASE WHEN event_type = 'view' THEN ss END) AS ss2
      FROM cells
    ),
    d AS MATERIALIZED (
      SELECT n1, n2, s1 / n1 - s2 / n2 AS diff,
             0.05 * (s1 + s2) / (n1 + n2) AS margin,
             sqrt((ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                  + (ss2 / n2 - (s2 / n2) * (s2 / n2)) / n2) AS se
      FROM w
    ),
    z AS MATERIALIZED (
      SELECT n1, n2, round(diff, 6) AS diff, round(margin, 6) AS margin,
             round((diff + margin) / se, 6) AS z_lower,
             round((diff - margin) / se, 6) AS z_upper
      FROM d
    )
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
           diff, margin,
           round(1 - {_PHI_UPPER_SQL.format(z='z_lower')}, 6) AS p_lower,
           round({_PHI_UPPER_SQL.format(z='z_upper')}, 6) AS p_upper,
           round(greatest(1 - {_PHI_UPPER_SQL.format(z='z_lower')},
                          {_PHI_UPPER_SQL.format(z='z_upper')}), 6)
             AS p_tost,
           greatest(1 - {_PHI_UPPER_SQL.format(z='z_lower')},
                    {_PHI_UPPER_SQL.format(z='z_upper')}) <= 0.05
             AS equivalent_05
    FROM z
    """,
)
def q_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X593 — TOST (two one-sided tests) EQUIVALENCE testing between
    click and view event values with a ±5%-of-pooled-mean margin: the
    A/B question X199's z-test cannot answer — 'are these the same,
    within a margin that matters' is not 'is the difference nonzero'.
    p_TOST = max(P(diff ≤ −δ rejected), P(diff ≥ +δ rejected));
    equivalence holds when both one-sided tests reject. One-sided
    normal tails come from the shared A&S polynomial with an explicit
    sign CASE (the polynomial is valid for z ≥ 0 only)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cells = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("s"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("ss"),
    )
    w = cells.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "click", F.col("s"))).alias("s1"),
        F.max(F.when(F.col("event_type") == "click", F.col("ss"))).alias(
            "ss1"
        ),
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "view", F.col("s"))).alias("s2"),
        F.max(F.when(F.col("event_type") == "view", F.col("ss"))).alias(
            "ss2"
        ),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    d = w.select(
        "n1",
        "n2",
        (m1 - m2).alias("diff0"),
        (0.05 * (F.col("s1") + F.col("s2")) / (F.col("n1") + F.col("n2"))).alias(
            "margin0"
        ),
        F.sqrt(
            (F.col("ss1") / F.col("n1") - m1 * m1) / F.col("n1")
            + (F.col("ss2") / F.col("n2") - m2 * m2) / F.col("n2")
        ).alias("se"),
    )
    z = d.select(
        "n1",
        "n2",
        F.round("diff0", 6).alias("diff"),
        F.round("margin0", 6).alias("margin"),
        F.round((F.col("diff0") + F.col("margin0")) / F.col("se"), 6).alias(
            "z_lower"
        ),
        F.round((F.col("diff0") - F.col("margin0")) / F.col("se"), 6).alias(
            "z_upper"
        ),
    )
    p_lower = 1 - _phi_upper(F.col("z_lower"))
    p_upper = _phi_upper(F.col("z_upper"))
    p_tost = F.greatest(p_lower, p_upper)
    return z.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
        "diff",
        "margin",
        F.round(p_lower, 6).alias("p_lower"),
        F.round(p_upper, 6).alias("p_upper"),
        F.round(p_tost, 6).alias("p_tost"),
        (p_tost <= 0.05).alias("equivalent_05"),
    )


# ---------------------------------------------------------------------------
# X573 gate pin — ANN-routed semantic dedup as an oracled query
# ---------------------------------------------------------------------------

from ..functions import vectors as _vec  # noqa: E402

_COS_CENT = _vec.cosine_sql(
    "list_transform(e.embedding, x -> CAST(x AS DOUBLE))", "c.cvec"
)
_ROUTED_TAU = 0.4


@query(
    "q_semantic_dedup_routed",
    oracle=f"""
    WITH {vq.kmeans_ctes(k=8, iters=2)},
    ranked AS MATERIALIZED (
      SELECT vec_id, cid, prn FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round({_COS_CENT}, 6) DESC, c.cid) AS prn
        FROM embeddings e CROSS JOIN cent1 c)
      WHERE prn <= 2
    ),
    members AS MATERIALIZED (
      SELECT r.vec_id, r.cid AS cell, e.embedding
      FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
      WHERE r.prn = 1
    ),
    probes AS MATERIALIZED (
      SELECT r.vec_id, r.cid AS cell, e.embedding
      FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
    ),
    dups AS (
      SELECT b.vec_id, min(a.vec_id) AS dup_of
      FROM probes b JOIN members a
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round({_vec.cosine_sql('a.embedding', 'b.embedding')}, 6)
              >= {_ROUTED_TAU}
      GROUP BY b.vec_id
    )
    SELECT m.vec_id, m.cell AS cluster_id,
           (d.dup_of IS NULL) AS kept, d.dup_of
    FROM members m LEFT JOIN dups d ON d.vec_id = m.vec_id
    """,
)
def q_semantic_dedup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X573 gate pin — operators/semdedup.semantic_dedup_routed under
    the value-hash oracle: the same trained k=8 codebook as
    q_semantic_dedup, but candidates come from IVF ROUTING (a vector
    verifies against lower-id members whose ASSIGNED cell — cosine
    rank 1 — is among its nprobe=2 PROBED cells) instead of
    whole-cluster self-joins. The DuckDB twin replays the Lloyd
    training (shared CTE chain with q_semantic_dedup), the cosine
    probe ranking, and the asymmetric candidate rule, so the routed
    scale path itself is hash-verified — not just pytest-pinned
    against a Spark twin. nprobe > 1 is why a production codebook can
    be fine (k ~ √n) without losing boundary pairs: a pair split
    across adjacent cells still meets through the second probe."""
    from ..operators.semdedup import semantic_dedup_routed, train_centroids

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent = train_centroids(e, k=8, iters=2)
    return semantic_dedup_routed(emb, cent, tau=_ROUTED_TAU, nprobe=2)


# ---------------------------------------------------------------------------
# X594 — grouped K-fold cross-validation (leakage-safe splits)
# ---------------------------------------------------------------------------


@query(
    "q_grouped_cv",
    oracle="""
    WITH folds AS MATERIALIZED (
      SELECT user_id, event_id, value,
             CAST(concat('0x', substr(md5(
               CAST(user_id AS VARCHAR) || '|gcv'), 1, 15)) AS BIGINT)
               % 5 AS fold
      FROM events
    )
    SELECT fold, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value
    FROM folds GROUP BY fold
    """,
)
def q_grouped_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X594 — GroupKFold assignment: every event lands in the fold of
    its USER (portable md5-prefix hash of the group key), so no
    user's data
    straddles a train/validation boundary — the leakage-safe split
    behind every per-user model evaluation, complementing X60's
    row-hash split (which leaks groups by design) and X502's purged
    time-series CV (which guards the time axis instead). Both engines
    hash the identical string, so fold membership is cross-engine
    exact; the per-fold (events, users, value) audit is what a
    pipeline asserts before training. pytest additionally pins the
    no-user-in-two-folds invariant."""
    ev = load(spark, sf_dir, "events")
    from ..functions.hashing import token_hash

    fold = token_hash(
        F.concat(F.col("user_id").cast("string"), F.lit("|gcv"))
    ) % 5
    folds = ev.select(
        "user_id", "event_id", "value", fold.cast("long").alias("fold")
    )
    return folds.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# X595 — pinball (quantile) loss evaluation of quantile forecasts
# ---------------------------------------------------------------------------


@query(
    "q_pinball_loss",
    oracle="""
    WITH split AS MATERIALIZED (
      SELECT o_orderpriority AS pri, o_totalprice AS y,
             o_orderkey % 5 = 0 AS holdout
      FROM orders
    ),
    train AS MATERIALIZED (
      SELECT pri,
             quantile_disc(y, 0.5) AS q50,
             quantile_disc(y, 0.9) AS q90
      FROM split WHERE NOT holdout GROUP BY pri
    ),
    eval AS (
      SELECT s.pri, q.tau,
             CASE WHEN q.tau = 0.5 THEN t.q50 ELSE t.q90 END AS pred,
             s.y
      FROM split s
      JOIN train t ON t.pri = s.pri
      CROSS JOIN (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS tau) q
      WHERE s.holdout
    )
    SELECT pri AS o_orderpriority, tau,
           CAST(count(*) AS BIGINT) AS n_holdout,
           round(pred, 2) AS pred,
           round(avg(CASE WHEN y >= pred THEN tau * (y - pred)
                          ELSE (1 - tau) * (pred - y) END), 4)
             AS pinball
    FROM eval GROUP BY pri, tau, pred
    """,
)
def q_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X595 — pinball (quantile) loss: train-split per-priority
    empirical q50/q90 price quantiles evaluated on a 20% hash holdout
    with L_τ(y,ŷ) = τ(y−ŷ)⁺ + (1−τ)(ŷ−y)⁺ — THE proper scoring rule
    for quantile forecasts, which the newsvendor (X435) and quantile-
    treatment (X481) consumers here previously had no evaluator for.
    Discrete quantiles (exact order statistics) keep the trained model
    identical in both engines — the X134 percentile_disc discipline;
    the holdout split is key-modulus, reproducible anywhere.

    Plan: one train aggregation (5 rows broadcast back), one scoring
    pass over the holdout — evaluation never shuffles the fact side."""
    o = load(spark, sf_dir, "orders")
    split = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderkey") % 5 == 0).alias("holdout"),
    )
    train = (
        split.filter(~F.col("holdout"))
        .groupBy("pri")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias(
                "q50"
            ),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY y)").alias(
                "q90"
            ),
        )
    )
    taus = spark.sql("SELECT explode(array(0.5D, 0.9D)) AS tau")
    ev = (
        split.filter(F.col("holdout"))
        .join(F.broadcast(train), "pri")
        .crossJoin(F.broadcast(taus))
        .select(
            "pri",
            "tau",
            F.when(F.col("tau") == 0.5, F.col("q50"))
            .otherwise(F.col("q90"))
            .alias("pred"),
            "y",
        )
    )
    loss = F.when(
        F.col("y") >= F.col("pred"),
        F.col("tau") * (F.col("y") - F.col("pred")),
    ).otherwise((1 - F.col("tau")) * (F.col("pred") - F.col("y")))
    return ev.groupBy(
        F.col("pri").alias("o_orderpriority"), "tau", F.round("pred", 2).alias("pred")
    ).agg(
        F.count("*").cast("long").alias("n_holdout"),
        F.round(F.avg(loss), 4).alias("pinball"),
    ).select("o_orderpriority", "tau", "n_holdout", "pred", "pinball")


# ---------------------------------------------------------------------------
# X596 — sequential pattern support (X-before-Y, arbitrary gap)
# ---------------------------------------------------------------------------


@query(
    "q_seq_pattern_support",
    oracle="""
    WITH firsts AS MATERIALIZED (
      SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ),
    users AS MATERIALIZED (
      SELECT count(DISTINCT user_id) AS nu FROM events
    ),
    pairs AS (
      SELECT a.event_type AS x, b.event_type AS y,
             count(*) AS support
      FROM firsts a JOIN firsts b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      WHERE a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT x, y, CAST(support AS BIGINT) AS support,
           round(support * 1.0 / u.nu, 6) AS support_frac
    FROM pairs CROSS JOIN users u
    WHERE support * 1.0 / u.nu >= 0.1
    """,
)
def q_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X596 — sequential-pattern support with ARBITRARY gaps (the
    PrefixSpan/SPAM counting primitive): a user supports X→Y when some
    X event precedes some Y event anywhere in their history — which
    reduces to first(X) < last(Y), so the pattern count needs only the
    per-(user, type) first/last timestamps, NEVER an event-level
    self-join. Complements X418's event trigrams (adjacent-only) and
    X97's CEP patterns (windowed): this is the unordered-gap 'does the
    journey ever go X then Y' count with a 10% support floor.

    Plan: one (user, type) rollup — k rows per user — then a
    user-keyed self-join of that tiny table; at 100 TB the rollup is
    the only fact-sized shuffle."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    nu = ev.select("user_id").distinct().count()
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("x"),
        F.col("first_ts").alias("x_first"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("y"),
        F.col("last_ts").alias("y_last"),
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("x") != F.col("y"))
            & (F.col("x_first") < F.col("y_last"))
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("support"))
    )
    return pairs.select(
        "x",
        "y",
        F.col("support").cast("long").alias("support"),
        F.round(F.col("support") * 1.0 / F.lit(nu), 6).alias(
            "support_frac"
        ),
    ).filter(F.col("support") * 1.0 / F.lit(nu) >= 0.1)
