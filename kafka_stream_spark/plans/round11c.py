"""Round-11 batch C (X752–X753): representation-geometry audits.

Reference scope note: §2.13 mandate extensions, reference-free — the
embedding-space health checks a curation pipeline runs on its own
encoder before trusting similarity search / semantic dedup decisions.

- X752 q_participation_ratio: effective rank of the embedding
  covariance as the participation ratio tr(C)²/tr(C²) =
  (Σλ)²/Σλ² — the eigen-free spectral-collapse meter (a PR near 1
  means one direction dominates = representation collapse; near d
  means isotropic).  Exact: both traces are polynomial in the raw
  integer moments, so no eigendecomposition is needed on either
  engine (int128 moment algebra, CKA precedent).
- X753 q_sliced_energy: sliced two-sample energy distance between
  the even- and odd-label embedding populations — K fixed ±1 hash
  directions project to 1-D, where every E|·−·| term collapses to
  rank/prefix-sum identities over the sorted projections (exact
  integer arithmetic end-to-end; the only doubles are the final
  divisions).  The all-pairs-free two-sample drift test for
  embedding spaces.

Determinism: components quantize at 1e-4 to integers; moment/prefix
sums accumulate in decimal(38,0) (Spark) / HUGEINT (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import token_hash_sql
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

_PR_D = 16  # embedding dims audited

_PR_ORACLE = f"""
    WITH e AS (
      SELECT label, embedding FROM embeddings
      WHERE len(embedding) >= {_PR_D}),
    x AS (
      SELECT label, i.i, j.j,
             CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS vi,
             CAST(round(CAST(embedding[j.j + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS vj
      FROM e
      CROSS JOIN (SELECT unnest(range({_PR_D})) AS i) i
      CROSS JOIN (SELECT unnest(range({_PR_D})) AS j) j),
    mom AS (
      SELECT label, i, j, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(vi * vj) AS HUGEINT) AS sij,
             CAST(sum(vi) AS HUGEINT) AS si,
             CAST(sum(vj) AS HUGEINT) AS sj
      FROM x GROUP BY label, i, j),
    cov AS (
      SELECT label, i, j, n, (n * sij - si * sj) AS cij
      FROM mom),
    tr AS (
      SELECT label, any_value(n) AS n,
             sum(CASE WHEN i = j THEN CAST(cij AS DOUBLE) ELSE 0 END)
               AS tr_c,
             sum(CAST(cij AS DOUBLE) * CAST(cij AS DOUBLE)) AS tr_c2
      FROM cov GROUP BY label)
    SELECT label, CAST(n AS BIGINT) AS n,
           round(tr_c * tr_c / tr_c2, 6) AS participation_ratio,
           round(tr_c * tr_c / tr_c2 / {_PR_D}, 6) AS pr_fraction
    FROM tr ORDER BY label
    """


@query("q_participation_ratio", oracle=_PR_ORACLE)
def q_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X752 — effective rank of the embedding covariance per label,
    as the participation ratio PR = tr(C)²/tr(C²) = (Σλ)²/(Σλ²):
    the representation-collapse meter (PR→1 = one dominant direction,
    PR→d = isotropic) used to audit encoders before their geometry is
    trusted for ANN/semantic-dedup routing.  Both traces are exact
    polynomials in the quantized integer moments — tr(C) = Σᵢ cᵢᵢ and
    tr(C²) = ‖C‖²_F = Σᵢⱼ cᵢⱼ² with cᵢⱼ = n·Sᵢⱼ − Sᵢ·Sⱼ — so NO
    eigendecomposition happens anywhere; the d² cross-moments
    accumulate int128-exactly (decimal(38,0) / HUGEINT) and only the
    final ratio is floating, rounded 6.

    Scale: d² integer partials per Arrow batch regardless of corpus
    size (the q_cka_alignment shape); the only shuffle is the
    (label, i, j) cell rollup."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _PR_D
    )
    q = [
        F.round(F.element_at("embedding", k + 1).cast("double") * 10000)
        .cast("long")
        .alias(f"v{k}")
        for k in range(_PR_D)
    ]
    v = emb.select("label", *q)
    dec = "decimal(38,0)"
    aggs = [F.count("*").alias("n")]
    for i in range(_PR_D):
        aggs.append(F.sum(F.col(f"v{i}").cast(dec)).alias(f"s{i}"))
    for i in range(_PR_D):
        for j in range(i, _PR_D):
            aggs.append(
                F.sum(
                    (F.col(f"v{i}") * F.col(f"v{j}")).cast(dec)
                ).alias(f"s{i}_{j}")
            )
    rows = v.groupBy("label").agg(*aggs).collect()
    out = []
    for r in sorted(rows, key=lambda r: r["label"]):
        n = int(r["n"])
        tr_c = 0.0
        tr_c2 = 0.0
        for i in range(_PR_D):
            for j in range(i, _PR_D):
                cij = float(
                    n * int(r[f"s{i}_{j}"]) - int(r[f"s{i}"]) * int(r[f"s{j}"])
                )
                if i == j:
                    tr_c += cij
                    tr_c2 += cij * cij
                else:
                    tr_c2 += 2.0 * cij * cij
        pr = tr_c * tr_c / tr_c2
        out.append((int(r["label"]), n, round(pr, 6), round(pr / _PR_D, 6)))
    return local_frame(
        spark, out, "label long, n long, participation_ratio double, "
        "pr_fraction double"
    ).orderBy("label")


# ---------------------------------------------------------------------------
# X753 — sliced two-sample energy distance
# ---------------------------------------------------------------------------

_SE_K = 8  # projection slices
_SE_D = 16  # dims used


def _se_sign_sql(k: str, j: str) -> str:
    inner = f"concat(CAST({k} AS VARCHAR), '|', CAST({j} AS VARCHAR), '|se')"
    return f"(CASE WHEN ({token_hash_sql(inner)}) % 2 = 0 THEN 1 ELSE -1 END)"


_SE_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label % 2 AS side, embedding FROM embeddings
      WHERE len(embedding) >= {_SE_D}),
    proj AS (
      SELECT k.k, e.vec_id, e.side,
             sum({_se_sign_sql('k.k', 'j.j')}
                 * CAST(round(CAST(embedding[j.j + 1] AS DOUBLE) * 10000)
                        AS BIGINT)) AS z
      FROM e
      CROSS JOIN (SELECT unnest(range({_SE_K})) AS k) k
      CROSS JOIN (SELECT unnest(range({_SE_D})) AS j) j
      GROUP BY k.k, e.vec_id, e.side),
    tot AS (
      SELECT k,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS HUGEINT)
               AS nx,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS ny,
             CAST(sum(CASE WHEN side = 0 THEN z ELSE 0 END) AS HUGEINT)
               AS sx,
             CAST(sum(CASE WHEN side = 1 THEN z ELSE 0 END) AS HUGEINT)
               AS sy
      FROM proj GROUP BY k),
    o AS (
      SELECT k, vec_id, side, CAST(z AS HUGEINT) AS z,
             row_number() OVER (PARTITION BY k, side
                                ORDER BY z, vec_id) AS r_in,
             CAST(coalesce(sum(CASE WHEN side = 1 THEN 1 END)
               OVER (PARTITION BY k ORDER BY z, vec_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS HUGEINT) AS cy_before,
             CAST(coalesce(sum(CASE WHEN side = 1 THEN z END)
               OVER (PARTITION BY k ORDER BY z, vec_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS HUGEINT) AS sy_before
      FROM proj),
    terms AS (
      SELECT o.k,
             sum(CASE WHEN side = 0 THEN
               z * cy_before - sy_before
               + (t.sy - sy_before) - z * (t.ny - cy_before)
               ELSE 0 END) AS cross_abs,
             sum(CASE WHEN side = 0 THEN
               (2 * CAST(r_in AS HUGEINT) - t.nx - 1) * z ELSE 0 END)
               AS within_x,
             sum(CASE WHEN side = 1 THEN
               (2 * CAST(r_in AS HUGEINT) - t.ny - 1) * z ELSE 0 END)
               AS within_y
      FROM o JOIN tot t ON t.k = o.k
      GROUP BY o.k),
    d AS (
      SELECT terms.k,
             CAST(cross_abs AS DOUBLE) / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE)) / 10000.0 AS exy,
             CAST(within_x AS DOUBLE) / (CAST(t.nx AS DOUBLE) * CAST(t.nx AS DOUBLE)) / 10000.0 AS exx,
             CAST(within_y AS DOUBLE) / (CAST(t.ny AS DOUBLE) * CAST(t.ny AS DOUBLE)) / 10000.0 AS eyy
      FROM terms JOIN tot t ON t.k = terms.k)
    SELECT CAST(k AS BIGINT) AS slice,
           round(exy, 6) AS e_xy, round(exx, 6) AS e_xx,
           round(eyy, 6) AS e_yy,
           round(2 * exy - exx - eyy, 6) AS energy_d2
    FROM d ORDER BY slice
    """


@query("q_sliced_energy", oracle=_SE_ORACLE)
def q_sliced_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X753 — sliced two-sample energy distance between the even- and
    odd-label embedding populations: K={_SE_K} fixed ±1 hash directions
    project every vector to 1-D, where the energy statistic
    D² = 2·E|x−y| − E|x−x′| − E|y−y′| needs NO pair enumeration —
    each E|·−·| collapses to exact rank / prefix-sum identities over
    the sorted projections (within-sample: Σ(2rᵢ−n−1)·zᵢ / n²;
    cross-sample: per-x running count/sum of y's below it).  This is
    the all-pairs-free drift test for embedding distributions, the
    multivariate complement of the 1-D Wasserstein/KS battery.

    Exactness: projections are integer (±1 signs × 1e4-quantized
    components); every sum accumulates int128 (HUGEINT /
    decimal(38,0)); doubles appear only in the final divisions.

    Scale: one projection aggregate (k·d terms per row, map-side),
    then per-slice sort windows — K slices partition the sort work,
    and within a slice the rank window is the same single-ordering
    cost as any quantile computation; no stage touches pairs."""
    from pyspark.sql.window import Window as W

    dec = "decimal(38,0)"
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _SE_D
    )
    # slice × row projections: z = Σ_j sign(k,j) · q_j  (exact ints)
    import hashlib

    def sign(k: int, j: int) -> int:
        h = hashlib.md5(f"{k}|{j}|se".encode()).hexdigest()
        return 1 if int(h[:15], 16) % 2 == 0 else -1

    sides = emb.select(
        "vec_id",
        (F.col("label") % 2).alias("side"),
        *[
            F.round(
                F.element_at("embedding", j + 1).cast("double") * 10000
            )
            .cast("long")
            .alias(f"q{j}")
            for j in range(_SE_D)
        ],
    )
    slices = []
    for k in range(_SE_K):
        z = sum(
            (F.col(f"q{j}") if sign(k, j) > 0 else -F.col(f"q{j}"))
            for j in range(_SE_D)
        )
        slices.append(
            sides.select(
                F.lit(k).alias("k"), "vec_id", "side", z.alias("z")
            )
        )
    proj = slices[0]
    for s in slices[1:]:
        proj = proj.unionByName(s)

    tot = proj.groupBy("k").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast(dec)
        .alias("nx"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast(dec)
        .alias("ny"),
        F.sum(F.when(F.col("side") == 1, F.col("z")).otherwise(0))
        .cast(dec)
        .alias("sy"),
    )
    w_merge = W.partitionBy("k").orderBy("z", "vec_id")
    w_before = w_merge.rowsBetween(W.unboundedPreceding, -1)
    w_in = W.partitionBy("k", "side").orderBy("z", "vec_id")
    o = proj.select(
        "k",
        "side",
        F.col("z").cast(dec).alias("z"),
        F.row_number().over(w_in).cast(dec).alias("r_in"),
        F.coalesce(
            F.sum(
                F.when(F.col("side") == 1, F.lit(1)).otherwise(F.lit(0))
            ).over(w_before),
            F.lit(0),
        )
        .cast(dec)
        .alias("cy_before"),
        F.coalesce(
            F.sum(F.when(F.col("side") == 1, F.col("z"))).over(w_before),
            F.lit(0),
        )
        .cast(dec)
        .alias("sy_before"),
    )
    terms = (
        o.join(tot, "k")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("side") == 0,
                    F.col("z") * F.col("cy_before")
                    - F.col("sy_before")
                    + (F.col("sy") - F.col("sy_before"))
                    - F.col("z") * (F.col("ny") - F.col("cy_before")),
                ).otherwise(F.lit(0).cast(dec))
            ).alias("cross_abs"),
            F.sum(
                F.when(
                    F.col("side") == 0,
                    (2 * F.col("r_in") - F.col("nx") - 1) * F.col("z"),
                ).otherwise(F.lit(0).cast(dec))
            ).alias("within_x"),
            F.sum(
                F.when(
                    F.col("side") == 1,
                    (2 * F.col("r_in") - F.col("ny") - 1) * F.col("z"),
                ).otherwise(F.lit(0).cast(dec))
            ).alias("within_y"),
        )
    )
    d = terms.join(tot, "k").select(
        "k",
        (
            F.col("cross_abs").cast("double")
            / (F.col("nx").cast("double") * F.col("ny").cast("double"))
            / 10000.0
        ).alias("exy"),
        (
            F.col("within_x").cast("double")
            / (F.col("nx").cast("double") * F.col("nx").cast("double"))
            / 10000.0
        ).alias("exx"),
        (
            F.col("within_y").cast("double")
            / (F.col("ny").cast("double") * F.col("ny").cast("double"))
            / 10000.0
        ).alias("eyy"),
    )
    return d.select(
        F.col("k").cast("long").alias("slice"),
        F.round("exy", 6).alias("e_xy"),
        F.round("exx", 6).alias("e_xx"),
        F.round("eyy", 6).alias("e_yy"),
        F.round(2 * F.col("exy") - F.col("exx") - F.col("eyy"), 6).alias(
            "energy_d2"
        ),
    ).orderBy("slice")
