"""Round-4 batch AA: spectra, outlier factors, and reproducibility
(X459-X464).

The periodogram reads seasonality off the raw series numerically
(X211/X338 assume the weekly period; this MEASURES it); LOF is the
density-relative member of the outlier shelf (X247's ensemble flags
global outliers, LOF flags points whose NEIGHBORHOOD is sparser than
their neighbors'); Efraimidis-Spirakis is THE distributed weighted
sampling-without-replacement algorithm, deterministic here via hashed
uniforms like X181; Welch's ANOVA completes the k-group ladder
(X283 classic → X355 Brown-Forsythe → here unequal-variance);
FETCH WITH TIES pins deterministic top-k semantics; and the corpus
manifest gives dataset cards the content fingerprint reproducibility
audits diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X459 — corpus content manifest
# ---------------------------------------------------------------------------


@query(
    "q_corpus_manifest",
    oracle="""
    WITH h AS (
      SELECT source, doc_id, md5(text) AS dh, strlen(text) AS nb
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nb) AS BIGINT) AS n_bytes,
           md5(string_agg(dh, '' ORDER BY doc_id)) AS content_checksum,
           min(dh) AS min_doc_hash
    FROM h GROUP BY source
    """,
)
def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X459 — per-source corpus manifest: doc counts, byte totals, and
    a CONTENT checksum (md5 over the doc_id-ordered concatenation of
    per-doc md5s) — the reproducibility fingerprint a dataset card
    (X306) should carry so two teams can prove they trained on the
    same bytes, and the diff key X106's snapshot diff compares
    releases by. One hash projection + one ordered string_agg per
    source (the per-source digest list is KBs, not the corpus)."""
    h = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5("text").alias("dh"),
        F.octet_length("text").alias("nb"),
    )
    return h.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("n_bytes"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "dh"))),
                    lambda s: s["dh"],
                ),
                "",
            )
        ).alias("content_checksum"),
        F.min("dh").alias("min_doc_hash"),
    )


# ---------------------------------------------------------------------------
# X460 — periodogram at candidate periods
# ---------------------------------------------------------------------------


@query(
    "q_periodogram",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) / 1e6 AS v
      FROM lineitem GROUP BY 1
    ), idx AS (
      SELECT v - (SELECT avg(v) FROM daily) AS x,
             row_number() OVER (ORDER BY d) - 1 AS t,
             count(*) OVER () AS n
      FROM daily
    ), periods AS (SELECT unnest([7.0, 14.0, 30.44, 91.31, 365.25])
                     AS per),
    power_ AS (
      SELECT p.per, any_value(i.n) AS n,
             pow(sum(i.x * cos(2 * pi() * i.t / p.per)), 2)
             + pow(sum(i.x * sin(2 * pi() * i.t / p.per)), 2) AS pw
      FROM idx i CROSS JOIN periods p GROUP BY p.per
    ), tot AS (SELECT sum(x * x) AS ss FROM idx)
    SELECT CAST(round(per, 2) AS DOUBLE) AS period_days,
           round(pw / (p.n * 1.0), 4) AS power,
           round(2 * pw / (p.n * t.ss), 6) AS frac_variance,
           round(2 * pw / (p.n * t.ss), 6)
             = max(round(2 * pw / (p.n * t.ss), 6)) OVER ()
             AS is_dominant
    FROM power_ p CROSS JOIN tot t
    """,
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X460 — periodogram of mean-centered daily revenue at the five
    calendar-candidate periods (week, fortnight, month, quarter,
    year): P(f) = (Σx·cos)² + (Σx·sin)² — the Schuster periodogram,
    i.e. the DFT power evaluated exactly where a business series could
    plausibly cycle, with the explained-variance share and the
    dominant period flagged. This MEASURES the seasonality X211's
    indices and X340's Holt-Winters ASSUME is weekly. The 5-period
    explode multiplies only the collapsed daily series; each power is
    a combinable sum."""
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
    m = daily.agg(F.avg("v").alias("mv"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    idx = daily.crossJoin(F.broadcast(m)).select(
        (F.col("v") - F.col("mv")).alias("x"),
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"),
        F.count("*").over(wall).alias("n"),
    )
    periods = local_frame(
        spark, [(7.0,), (14.0,), (30.44,), (91.31,), (365.25,)], "per double"
    )
    tau = 2 * 3.141592653589793
    ang = F.lit(tau) * F.col("t") / F.col("per")
    power = (
        idx.crossJoin(F.broadcast(periods))
        .groupBy("per")
        .agg(
            F.any_value("n").alias("n"),
            (
                F.pow(F.sum(F.col("x") * F.cos(ang)), 2)
                + F.pow(F.sum(F.col("x") * F.sin(ang)), 2)
            ).alias("pw"),
        )
    )
    tot = idx.agg(F.sum(F.col("x") * F.col("x")).alias("ss"))
    fv = F.round(
        2 * F.col("pw") / (F.col("n") * F.col("ss")), 6
    )
    return power.crossJoin(F.broadcast(tot)).select(
        F.round("per", 2).alias("period_days"),
        F.round(F.col("pw") / (F.col("n") * 1.0), 4).alias("power"),
        fv.alias("frac_variance"),
        (fv == F.max(fv).over(wall)).alias("is_dominant"),
    )


# ---------------------------------------------------------------------------
# X461 — FETCH FIRST ... WITH TIES semantics
# ---------------------------------------------------------------------------


@query(
    "q_fetch_with_ties",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
             count(*) AS n,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY count(*) DESC) AS rk
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    )
    SELECT l_returnflag, qty, CAST(n AS BIGINT) AS n,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def q_fetch_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X461 — FETCH FIRST 3 ROWS WITH TIES semantics (SQL:2008): the
    top-3 most frequent quantities per return flag INCLUDING every row
    tied with the third — rank() ≤ k, the deterministic top-k that
    row_number's arbitrary tie-cut (used deliberately elsewhere with
    explicit tie-break keys) silently isn't. The variant to reach for
    when the tie-break has no natural key; output size is k plus
    ties."""
    ranked = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
        )
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rk",
            F.rank().over(
                Window.partitionBy("l_returnflag").orderBy(
                    F.col("n").desc()
                )
            ),
        )
    )
    return ranked.filter(F.col("rk") <= 3).select(
        "l_returnflag",
        "qty",
        F.col("n").cast("long").alias("n"),
        F.col("rk").cast("long").alias("rk"),
    )


# ---------------------------------------------------------------------------
# X462 — Efraimidis-Spirakis weighted sampling without replacement
# ---------------------------------------------------------------------------


@query(
    "q_es_sampling",
    oracle="""
    WITH w AS (
      SELECT o_orderkey, o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
               ::BIGINT / 4294967296.0 AS u
      FROM orders
    ), keyed AS (
      SELECT o_orderkey, o_totalprice, u,
             pow(greatest(u, 1e-12), 1.0 / o_totalprice) AS k
      FROM w
    ), picked AS (
      SELECT o_orderkey, o_totalprice, k,
             row_number() OVER (ORDER BY k DESC, o_orderkey) AS rn
      FROM keyed
    )
    SELECT CAST(p.o_orderkey AS BIGINT) AS o_orderkey,
           round(p.o_totalprice, 2) AS o_totalprice,
           round(p.k, 8) AS es_key,
           CAST(p.rn AS BIGINT) AS rn,
           round((SELECT avg(o_totalprice) FROM picked WHERE rn <= 20)
                 / (SELECT avg(o_totalprice) FROM orders), 4)
             AS sample_value_bias
    FROM picked p WHERE p.rn <= 20
    """,
)
def q_es_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X462 — Efraimidis-Spirakis weighted sampling WITHOUT replacement
    (A-Res): key = u^(1/w), take the k largest — the one-pass,
    merge-friendly algorithm distributed samplers standardize on
    (per-partition top-k then top-k of tops — exactly a mergeable
    sketch). Uniforms come from hashed keys (the X181 determinism
    recipe), weights are order values, so the top-20 over-represents
    big orders by design — the reported bias ratio SHOWS the
    weighting working. One projection + one top-k."""
    w = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (
            F.conv(
                F.substring(
                    F.md5(F.col("o_orderkey").cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            / 4294967296.0
        ).alias("u"),
    )
    keyed = w.select(
        "o_orderkey",
        "o_totalprice",
        F.pow(
            F.greatest(F.col("u"), F.lit(1e-12)),
            1.0 / F.col("o_totalprice"),
        ).alias("k"),
    )
    picked = keyed.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("k").desc(), "o_orderkey")),
    ).localCheckpoint(eager=True)
    samp = picked.filter(F.col("rn") <= 20)
    bias = (
        samp.agg(F.avg("o_totalprice").alias("sm"))
        .crossJoin(
            F.broadcast(
                load(spark, sf_dir, "orders").agg(
                    F.avg("o_totalprice").alias("pm")
                )
            )
        )
        .select(F.round(F.col("sm") / F.col("pm"), 4).alias("bias"))
    )
    return samp.crossJoin(F.broadcast(bias)).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("k", 8).alias("es_key"),
        F.col("rn").cast("long").alias("rn"),
        F.col("bias").alias("sample_value_bias"),
    )


# ---------------------------------------------------------------------------
# X463 — Welch's ANOVA
# ---------------------------------------------------------------------------


@query(
    "q_welch_anova",
    oracle="""
    WITH x AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
               FROM documents),
    grp AS (
      SELECT g, count(*) AS n, avg(v) AS m,
             (sum(v * v) - count(*) * avg(v) * avg(v)) / (count(*) - 1)
               AS s2
      FROM x GROUP BY g
    ), wts AS (
      SELECT g, n, m, s2, n / s2 AS w FROM grp
    ), tot AS (
      SELECT count(*) AS k, sum(w) AS sw,
             sum(w * m) / sum(w) AS grand
      FROM wts
    ), parts AS (
      SELECT any_value(t.k) AS k,
             sum(w.w * (w.m - t.grand) * (w.m - t.grand))
               / (any_value(t.k) - 1) AS num,
             sum(pow(1 - w.w / t.sw, 2) / (w.n - 1)) AS lam
      FROM wts w CROSS JOIN tot t
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           round(num / (1 + 2.0 * (k - 2) / (k * k - 1) * lam), 6)
             AS welch_f,
           round((k * k - 1) / (3.0 * lam), 4) AS df2
    FROM parts
    """,
)
def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X463 — Welch's heteroscedastic ANOVA over document lengths by
    source: precision weights w = n/s², F* = Σw(m−grand)²/(k−1) over
    the Welch correction term, with the Welch-Satterthwaite df₂ —
    the k-group test to run when X356's Bartlett REJECTS equal
    variances (completing the ladder: X283 assumes them, X355 checks
    robustly, this one drops the assumption). Pure
    sufficient-statistics: one grouped rollup, two scalar folds."""
    x = load(spark, sf_dir, "documents").select(
        F.col("source").alias("g"), F.col("n_chars").cast("double").alias("v")
    )
    grp = x.groupBy("g").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("m"),
        (
            (
                F.sum(F.col("v") * F.col("v"))
                - F.count("*") * F.avg("v") * F.avg("v")
            )
            / (F.count("*") - 1)
        ).alias("s2"),
    )
    wts = grp.select(
        "g", "n", "m", "s2", (F.col("n") / F.col("s2")).alias("w")
    )
    tot = wts.agg(
        F.count("*").alias("k"),
        F.sum("w").alias("sw"),
        (F.sum(F.col("w") * F.col("m")) / F.sum("w")).alias("grand"),
    )
    parts = wts.crossJoin(F.broadcast(tot)).agg(
        F.any_value("k").alias("k"),
        (
            F.sum(
                F.col("w")
                * (F.col("m") - F.col("grand"))
                * (F.col("m") - F.col("grand"))
            )
            / (F.any_value("k") - 1)
        ).alias("num"),
        F.sum(
            F.pow(1 - F.col("w") / F.col("sw"), 2) / (F.col("n") - 1)
        ).alias("lam"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.round(
            F.col("num")
            / (
                1
                + 2.0
                * (F.col("k") - 2)
                / (F.col("k") * F.col("k") - 1)
                * F.col("lam")
            ),
            6,
        ).alias("welch_f"),
        F.round(
            (F.col("k") * F.col("k") - 1) / (3.0 * F.col("lam")), 4
        ).alias("df2"),
    )


# ---------------------------------------------------------------------------
# X464 — Local Outlier Factor
# ---------------------------------------------------------------------------

_LOF_K = 3


@query(
    "q_lof",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             round(sqrt({vectors.dot_sql('a.embedding', 'a.embedding')}
                   - 2 * {vectors.dot_sql('a.embedding', 'b.embedding')}
                   + {vectors.dot_sql('b.embedding', 'b.embedding')}),
                   6) AS dist
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), knn AS (
      SELECT u, v, dist FROM (
        SELECT u, v, dist, row_number() OVER
          (PARTITION BY u ORDER BY dist, v) AS rn
        FROM pairs) WHERE rn <= {_LOF_K}
    ), kdist AS (
      SELECT u, max(dist) AS kd FROM knn GROUP BY u
    ), reach AS (
      SELECT knn.u, knn.v,
             greatest(kb.kd, knn.dist) AS rdist
      FROM knn JOIN kdist kb ON knn.v = kb.u
    ), lrd AS (
      SELECT u, {_LOF_K} / sum(rdist) AS lrd FROM reach GROUP BY u
    ), lof AS (
      SELECT knn.u, avg(ln.lrd) / any_value(lu.lrd) AS lof
      FROM knn JOIN lrd ln ON knn.v = ln.u
               JOIN lrd lu ON knn.u = lu.u
      GROUP BY knn.u
    )
    SELECT CAST(u AS BIGINT) AS vec_id, round(lof, 6) AS lof
    FROM (SELECT u, lof, row_number() OVER
            (ORDER BY round(lof, 6) DESC, u) AS rn FROM lof)
    WHERE rn <= 15
    """,
)
def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X464 — Local Outlier Factor (k=3) over the embedding corpus:
    kNN distances → k-distance → reachability distance
    max(kdist(neighbor), d) → local reachability density → LOF =
    mean(neighbor lrd)/own lrd, top-15 — the DENSITY-RELATIVE outlier
    score (Breunig et al.): a point at the edge of a tight cluster
    outranks a global straggler in sparse space, which is exactly what
    X247's global-statistics ensemble cannot see. This exact spelling
    is the correctness twin; at scale the kNN stage comes from X30's
    IVF probe (same candidates discipline as q_mutual_nn) and
    everything after is the same three k-row joins. Distances rounded
    before every rank so both engines cut ties identically."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    dist = F.round(
        F.sqrt(
            vectors.dot("ea", "ea")
            - 2 * vectors.dot("ea", "eb")
            + vectors.dot("eb", "eb")
        ),
        6,
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("u") != F.col("v"))
        .select("u", "v", dist.alias("dist"))
    )
    wk = Window.partitionBy("u").orderBy("dist", "v")
    knn = (
        pairs.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _LOF_K)
        .select("u", "v", "dist")
        .localCheckpoint(eager=True)
    )
    kdist = knn.groupBy("u").agg(F.max("dist").alias("kd"))
    reach = knn.join(
        F.broadcast(kdist.select(F.col("u").alias("v"), "kd")), "v"
    ).select(
        "u", "v", F.greatest("kd", "dist").alias("rdist")
    )
    lrd = reach.groupBy("u").agg(
        (F.lit(_LOF_K) / F.sum("rdist")).alias("lrd")
    ).localCheckpoint(eager=True)
    lof = (
        knn.join(
            F.broadcast(lrd.select(F.col("u").alias("v"), F.col("lrd").alias("lrd_n"))),
            "v",
        )
        .join(F.broadcast(lrd), "u")
        .groupBy("u")
        .agg(
            (F.avg("lrd_n") / F.any_value("lrd")).alias("lof")
        )
    )
    wr = Window.orderBy(F.round("lof", 6).desc(), "u")
    return (
        lof.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 15)
        .select(
            F.col("u").cast("long").alias("vec_id"),
            F.round("lof", 6).alias("lof"),
        )
    )
