"""Round-4 breadth, part H: multi-feature OLS by centered normal
equations, unrolled logistic-regression gradient descent, and the
percent_rank/nth_value window completions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X322 — multi-feature OLS (normal equations, closed form)
# ---------------------------------------------------------------------------


@query(
    "q_ols_multi",
    oracle="""
    WITH x AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
             CAST(l_discount AS DOUBLE) AS x2,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ), m AS (
      SELECT count(*) AS n, avg(x1) AS m1, avg(x2) AS m2, avg(y) AS my
      FROM x
    ), c AS (
      SELECT m.n, m.m1, m.m2, m.my,
             sum((x.x1 - m.m1) * (x.x1 - m.m1)) AS s11,
             sum((x.x1 - m.m1) * (x.x2 - m.m2)) AS s12,
             sum((x.x2 - m.m2) * (x.x2 - m.m2)) AS s22,
             sum((x.x1 - m.m1) * (x.y - m.my)) AS s1y,
             sum((x.x2 - m.m2) * (x.y - m.my)) AS s2y
      FROM x CROSS JOIN m
      GROUP BY m.n, m.m1, m.m2, m.my
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12), 6)
             AS b_quantity,
           round((s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12), 6)
             AS b_discount,
           round(my - (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * m1
                    - (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * m2,
                 4) AS intercept
    FROM c
    """,
)
def q_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X322 — multi-feature ordinary least squares in closed form:
    price ~ quantity + discount via the CENTERED normal equations (2x2
    Cramer solve on centered cross-moments, intercept recovered from
    the means) — X64's regr_slope generalized past one feature, the
    workhorse 'fit a small interpretable model IN the warehouse' shape.
    Centering first is what makes the determinant arithmetic
    well-conditioned (raw moments would cancel catastrophically and
    amplify engine summation-order ULPs); the cost is one extra
    broadcast of the means. Two scans total, no shuffle wider than a
    scalar row."""
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
    )
    c = (
        x.crossJoin(F.broadcast(m))
        .groupBy("n", "m1", "m2", "my")
        .agg(
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x1") - F.col("m1"))).alias("s11"),
            F.sum((F.col("x1") - F.col("m1")) * (F.col("x2") - F.col("m2"))).alias("s12"),
            F.sum((F.col("x2") - F.col("m2")) * (F.col("x2") - F.col("m2"))).alias("s22"),
            F.sum((F.col("x1") - F.col("m1")) * (F.col("y") - F.col("my"))).alias("s1y"),
            F.sum((F.col("x2") - F.col("m2")) * (F.col("y") - F.col("my"))).alias("s2y"),
        )
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    return c.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1, 6).alias("b_quantity"),
        F.round(b2, 6).alias("b_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 4
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# X323 — logistic regression by unrolled gradient descent
# ---------------------------------------------------------------------------

_LR = 0.5
_GD_ITERS = 3


def _logreg_oracle() -> str:
    feats = (
        "SELECT CAST(label < 5 AS INT) AS y, "
        "CAST(embedding[1] AS DOUBLE) AS x1, "
        "CAST(embedding[2] AS DOUBLE) AS x2 FROM embeddings"
    )
    ctes = [f"x AS ({feats})", "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    prev = "w0"
    for i in range(1, _GD_ITERS + 1):
        sig = f"1.0 / (1.0 + exp(-({prev}.w0 + {prev}.w1 * x.x1 + {prev}.w2 * x.x2)))"
        ctes.append(
            f"""g{i} AS (
      SELECT avg(({sig}) - x.y) AS g0,
             avg((({sig}) - x.y) * x.x1) AS g1,
             avg((({sig}) - x.y) * x.x2) AS g2
      FROM x CROSS JOIN {prev})"""
        )
        ctes.append(
            f"w{i} AS (SELECT {prev}.w0 - {_LR} * g{i}.g0 AS w0, "
            f"{prev}.w1 - {_LR} * g{i}.g1 AS w1, "
            f"{prev}.w2 - {_LR} * g{i}.g2 AS w2 "
            f"FROM {prev} CROSS JOIN g{i})"
        )
        prev = f"w{i}"
    chain = ",\n    ".join(ctes)
    final_sig = f"1.0 / (1.0 + exp(-(w.w0 + w.w1 * x.x1 + w.w2 * x.x2)))"
    return f"""
    WITH {chain}
    SELECT round(w.w0, 6) AS w0, round(w.w1, 6) AS w1,
           round(w.w2, 6) AS w2,
           CAST(sum(CASE WHEN ({final_sig} >= 0.5) = (x.y = 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           count(*) AS n
    FROM x CROSS JOIN {prev} w
    GROUP BY w.w0, w.w1, w.w2
    """


@query("q_logreg_gd", oracle=_logreg_oracle())
def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X323 — logistic regression trained by UNROLLED batch gradient
    descent (3 full-batch steps, lr=0.5, zero init) on two embedding
    dims predicting label < 5, plus training accuracy of the final
    weights — the canonical distributed-ML loop: each step is ONE
    mean-gradient aggregation over the data with the current weights
    broadcast, weights never leave a 1-row DataFrame (no driver-side
    collect in the loop; the whole 3-step train + eval is a single
    lazy plan). The fixed iteration count is the X217/X275
    bounded-superstep contract; at 100 TB each step stays one
    map-combine pass and the broadcast stays 3 doubles."""
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        (F.col("label") < 5).cast("int").alias("y"),
        F.col("embedding")[0].cast("double").alias("x1"),
        F.col("embedding")[1].cast("double").alias("x2"),
    )
    w = local_frame(
        x.sparkSession, [(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double"
    )
    for _ in range(_GD_ITERS):
        scored = x.crossJoin(F.broadcast(w))
        err = (
            1.0
            / (
                1.0
                + F.exp(
                    -(
                        F.col("w0")
                        + F.col("w1") * F.col("x1")
                        + F.col("w2") * F.col("x2")
                    )
                )
            )
            - F.col("y")
        )
        g = scored.agg(
            F.avg(err).alias("g0"),
            F.avg(err * F.col("x1")).alias("g1"),
            F.avg(err * F.col("x2")).alias("g2"),
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .select(
                (F.col("w0") - _LR * F.col("g0")).alias("w0"),
                (F.col("w1") - _LR * F.col("g1")).alias("w1"),
                (F.col("w2") - _LR * F.col("g2")).alias("w2"),
            )
        )
    scored = x.crossJoin(F.broadcast(w))
    prob = 1.0 / (
        1.0
        + F.exp(
            -(
                F.col("w0")
                + F.col("w1") * F.col("x1")
                + F.col("w2") * F.col("x2")
            )
        )
    )
    return scored.groupBy("w0", "w1", "w2").agg(
        F.sum(((prob >= 0.5) == (F.col("y") == 1)).cast("long")).alias(
            "n_correct"
        ),
        F.count("*").alias("n"),
    ).select(
        F.round("w0", 6).alias("w0"),
        F.round("w1", 6).alias("w1"),
        F.round("w2", 6).alias("w2"),
        "n_correct",
        "n",
    )


# ---------------------------------------------------------------------------
# X324 — percent_rank / nth_value (X31 window completions)
# ---------------------------------------------------------------------------


@query(
    "q_percent_rank",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6)
             AS pr,
           round(nth_value(s_acctbal, 3) OVER (
             ORDER BY s_acctbal, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
             AS third_bal,
           round(last_value(s_acctbal) OVER (
             ORDER BY s_acctbal, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
             AS max_bal
    FROM supplier
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X324 — percent_rank + nth_value + full-frame last_value: the
    three analytic functions X31's family row didn't cover.
    percent_rank is (rank-1)/(n-1) relative standing (the feature
    scaler X226's quantile normalization starts from); nth_value /
    last_value with the explicit full frame pin the frame-default trap
    (the implicit frame stops at CURRENT ROW and silently returns the
    running last). Deterministic ties via the key tie-break. Supplier
    table is small; on a big table this window partitions by a series
    key like every other ranking query here."""
    s = load(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.nth_value("s_acctbal", 3).over(wf), 2).alias("third_bal"),
        F.round(F.last_value("s_acctbal").over(wf), 2).alias("max_bal"),
    )
