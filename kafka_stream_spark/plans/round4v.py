"""Round-4 batch V: density, dependence, phrase mining, and tuning
operators (X424-X431).

The last-mile analytics the existing batteries stop short of: a
Gaussian KDE gives the smooth density X46's histogram bins coarsely;
distance correlation detects the NONLINEAR dependence X249's Pearson
matrix misses by construction; RAKE mines multi-word keyphrases where
X170 scores single terms; the LSH tuning sweep turns X142's calibration
into the (bands × rows) design decision; WoE/IV is credit-scoring's
feature screen; Cohen's d/Hedges' g give X196's Welch t its effect
size; Page-Hinkley complements X210's CUSUM with the running-mean
drift form; and Jensen-Shannon divergence rounds out the
distribution-distance shelf (X115 PSI, X116 KS, X262 EMD).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing, text
from ..operators import lsh
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X424 — Gaussian kernel density estimate
# ---------------------------------------------------------------------------


@query(
    "q_kde",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) / 1e6 AS v
      FROM lineitem GROUP BY 1
    ), s AS (
      SELECT count(*) AS n, avg(v) AS m, min(v) AS mn, max(v) AS mx,
             sqrt(sum(v * v) / count(*) - avg(v) * avg(v)) AS sd
      FROM daily
    ), grid AS (
      SELECT s.n, s.mn, s.mx,
             1.06 * s.sd * pow(s.n, -0.2) AS h,
             s.mn + i * (s.mx - s.mn) / 20.0 AS g
      FROM s CROSS JOIN (SELECT unnest(generate_series(0, 20)) AS i)
    )
    SELECT round(g.g, 6) AS grid_point,
           round(sum(exp(-pow((g.g - d.v) / g.h, 2) / 2))
                 / (g.n * g.h * sqrt(2 * pi())), 8) AS density
    FROM grid g CROSS JOIN daily d
    GROUP BY g.g, g.n, g.h
    """,
)
def q_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X424 — Gaussian kernel density estimate of daily revenue (in
    $M) at 21 grid points with Silverman's rule-of-thumb bandwidth
    h = 1.06·σ·n^(−1/5): the smooth density readout X46's fixed-width
    histogram quantizes away — mode hunting and bimodality checks read
    THIS curve. Exact evaluation: the 21-point broadcast grid against
    the collapsed ~2500-day series is 52k kernel terms, a single
    map-side pass however large the fact table."""
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
    s = daily.agg(
        F.count("*").alias("n"),
        F.avg("v").alias("m"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sqrt(
            F.sum(F.col("v") * F.col("v")) / F.count("*")
            - F.avg("v") * F.avg("v")
        ).alias("sd"),
    )
    idx = spark.range(0, 21).select(F.col("id").alias("i"))
    grid = s.crossJoin(idx).select(
        "n",
        (1.06 * F.col("sd") * F.pow("n", -0.2)).alias("h"),
        (
            F.col("mn")
            + F.col("i") * (F.col("mx") - F.col("mn")) / 20.0
        ).alias("g"),
    )
    j = grid.crossJoin(daily)
    z = (F.col("g") - F.col("v")) / F.col("h")
    return (
        j.groupBy("g", "n", "h")
        .agg(
            F.round(
                F.sum(F.exp(-z * z / 2))
                / (
                    F.col("n")
                    * F.col("h")
                    * F.sqrt(F.lit(2.0) * 3.141592653589793)
                ),
                8,
            ).alias("density")
        )
        .select(F.round("g", 6).alias("grid_point"), "density")
    )


# ---------------------------------------------------------------------------
# X425 — distance correlation
# ---------------------------------------------------------------------------


@query(
    "q_distance_corr",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS w,
             sum(l_extendedprice * (1 - l_discount)) / 1e6 AS x,
             CAST(count(*) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ), idx AS (
      SELECT row_number() OVER (ORDER BY w) AS i, x, y FROM wk
    ), pairs AS (
      SELECT a.i AS i, b.i AS j,
             abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
      FROM idx a CROSS JOIN idx b
    ), rm AS (
      SELECT i, avg(ax) AS rax, avg(ay) AS ray FROM pairs GROUP BY i
    ), gm AS (SELECT avg(ax) AS gax, avg(ay) AS gay FROM pairs),
    centered AS (
      SELECT p.ax - ri.rax - rj.rax + g.gax AS A,
             p.ay - ri.ray - rj.ray + g.gay AS B
      FROM pairs p
      JOIN rm ri ON p.i = ri.i JOIN rm rj ON p.j = rj.i
      CROSS JOIN gm g
    ), moments AS (
      SELECT count(*) AS n2, avg(A * B) AS dcov2,
             avg(A * A) AS dvarx, avg(B * B) AS dvary
      FROM centered
    )
    SELECT CAST(sqrt(n2) AS BIGINT) AS n_weeks,
           round(sqrt(greatest(dcov2, 0)), 6) AS dcov,
           round(sqrt(sqrt(dvarx * dvary)), 6) AS dvar_geo,
           round(sqrt(greatest(dcov2, 0) / sqrt(dvarx * dvary)), 6)
             AS distance_corr
    FROM moments
    """,
)
def q_distance_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X425 — distance correlation (Székely) between weekly revenue and
    weekly order-line volume: double-centered pairwise-distance
    products, dCor = √(dCov²/√(dVarX·dVarY)) — zero IFF independent,
    so it catches the nonlinear dependence X249's Pearson and X261's
    Spearman both miss. The O(n²) pair table is built on the COLLAPSED
    ~360-week series (130k pairs), not the fact table — the standard
    way this statistic is run at scale."""
    wk = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.to_date(F.date_trunc("week", "l_shipdate")).alias("w"))
        .agg(
            (
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                )
                / 1e6
            ).alias("x"),
            F.count("*").cast("double").alias("y"),
        )
    )
    idx = wk.select(
        F.row_number().over(Window.orderBy("w")).alias("i"), "x", "y"
    ).localCheckpoint(eager=True)
    a = idx.select("i", "x", "y")
    b = idx.select(
        F.col("i").alias("j"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.crossJoin(b).select(
        "i",
        "j",
        F.abs(F.col("x") - F.col("xb")).alias("ax"),
        F.abs(F.col("y") - F.col("yb")).alias("ay"),
    ).localCheckpoint(eager=True)
    rm = pairs.groupBy("i").agg(
        F.avg("ax").alias("rax"), F.avg("ay").alias("ray")
    )
    gm = pairs.agg(F.avg("ax").alias("gax"), F.avg("ay").alias("gay"))
    ri = rm.select(F.col("i"), F.col("rax").alias("rax_i"), F.col("ray").alias("ray_i"))
    rj = rm.select(
        F.col("i").alias("j"),
        F.col("rax").alias("rax_j"),
        F.col("ray").alias("ray_j"),
    )
    centered = (
        pairs.join(F.broadcast(ri), "i")
        .join(F.broadcast(rj), "j")
        .crossJoin(F.broadcast(gm))
        .select(
            (
                F.col("ax") - F.col("rax_i") - F.col("rax_j") + F.col("gax")
            ).alias("A"),
            (
                F.col("ay") - F.col("ray_i") - F.col("ray_j") + F.col("gay")
            ).alias("B"),
        )
    )
    m = centered.agg(
        F.count("*").alias("n2"),
        F.avg(F.col("A") * F.col("B")).alias("dcov2"),
        F.avg(F.col("A") * F.col("A")).alias("dvarx"),
        F.avg(F.col("B") * F.col("B")).alias("dvary"),
    )
    dcov2 = F.greatest(F.col("dcov2"), F.lit(0.0))
    return m.select(
        F.sqrt("n2").cast("long").alias("n_weeks"),
        F.round(F.sqrt(dcov2), 6).alias("dcov"),
        F.round(
            F.sqrt(F.sqrt(F.col("dvarx") * F.col("dvary"))), 6
        ).alias("dvar_geo"),
        F.round(
            F.sqrt(dcov2 / F.sqrt(F.col("dvarx") * F.col("dvary"))), 6
        ).alias("distance_corr"),
    )


# ---------------------------------------------------------------------------
# X426 — RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPS = "', '".join(text.STOPWORDS)


@query(
    "q_rake_keyphrases",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, w, i,
             CASE WHEN w IN ('{_RAKE_STOPS}') THEN 1 ELSE 0 END AS stop
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   unnest(range(len(string_split(text, ' ')))) AS i
            FROM documents)
      WHERE w <> ''
    ), grp AS (
      SELECT doc_id, w, i, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM tok
    ), phrases AS (
      SELECT doc_id, g, string_agg(w, ' ' ORDER BY i) AS phrase,
             count(*) AS plen
      FROM grp WHERE stop = 0 GROUP BY doc_id, g
      HAVING count(*) BETWEEN 1 AND 4
    ), wordstats AS (
      SELECT w, count(*) AS freq, sum(plen) AS deg
      FROM (SELECT unnest(string_split(phrase, ' ')) AS w, plen
            FROM phrases)
      GROUP BY w
    ), scored AS (
      SELECT p.phrase, count(*) AS n_occurrences,
             round(any_value(sc.score), 6) AS rake_score
      FROM phrases p
      JOIN (SELECT ph.phrase AS ph2,
                   sum(ws.deg * 1.0 / ws.freq) AS score
            FROM (SELECT DISTINCT phrase FROM phrases) ph,
                 unnest(string_split(ph.phrase, ' ')) AS t(w)
            JOIN wordstats ws ON ws.w = t.w
            GROUP BY ph.phrase) sc ON sc.ph2 = p.phrase
      GROUP BY p.phrase HAVING count(*) >= 2
    )
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           rake_score
    FROM (SELECT *, row_number() OVER
            (ORDER BY rake_score DESC, phrase) AS rn FROM scored)
    WHERE rn <= 20
    """,
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X426 — RAKE keyphrase extraction (Rose et al.): candidate
    phrases are maximal stopword-free token runs (≤4 words), word
    score = degree/frequency over the phrase corpus, phrase score =
    Σ word scores; top-20 phrases occurring ≥2 times. The multi-word
    complement of X170's single-term tf-idf keywords, using the
    engine's shared stopword lexicon. Phrase assembly is one
    gaps-and-islands pass; scoring joins run on the phrase vocabulary,
    not the corpus."""
    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("i", "w"),
        )
        .filter(F.col("w") != "")
        .withColumn(
            "stop", F.col("w").isin(*text.STOPWORDS).cast("int")
        )
    )
    wg = Window.partitionBy("doc_id").orderBy("i")
    grp = tok.withColumn("g", F.sum("stop").over(wg))
    phrases = (
        grp.filter(F.col("stop") == 0)
        .groupBy("doc_id", "g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .filter(F.col("plen").between(1, 4))
        .localCheckpoint(eager=True)
    )
    wordstats = (
        phrases.select(
            F.explode(F.split("phrase", " ")).alias("w"), "plen"
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    vocab = phrases.select("phrase").distinct()
    pscore = (
        vocab.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(wordstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(F.col("deg") * 1.0 / F.col("freq")).alias("score")
        )
    )
    scored = (
        phrases.groupBy("phrase")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
        .join(pscore, "phrase")
        .select(
            "phrase",
            "n_occurrences",
            F.round("score", 6).alias("rake_score"),
        )
    )
    wr = Window.orderBy(F.col("rake_score").desc(), "phrase")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select(
            "phrase",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "rake_score",
        )
    )


# ---------------------------------------------------------------------------
# X427 — LSH band/row tuning sweep
# ---------------------------------------------------------------------------

_LSH_CONFIGS = [(4, 8), (8, 4), (16, 2)]


def _lsh_tuning_oracle() -> str:
    sig = hashing.minhash_signature_sql("hs")
    per_cfg = " UNION ALL ".join(
        f"""
        SELECT {bands} AS bands, {rows} AS rows_per_band,
               pow(1.0 / {bands}, 1.0 / {rows}) AS est_threshold,
               (SELECT count(*) FROM (
                  SELECT band_key FROM (
                    SELECT unnest({hashing.band_keys_sql('sig', bands, rows)})
                      AS band_key
                    FROM s) GROUP BY band_key HAVING count(*) >= 2))
                 AS n_hot_buckets,
               (SELECT count(*) FROM (
                  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM
                    (SELECT doc_id,
                            unnest({hashing.band_keys_sql('sig', bands, rows)})
                              AS band_key FROM s) x
                    JOIN
                    (SELECT doc_id,
                            unnest({hashing.band_keys_sql('sig', bands, rows)})
                              AS band_key FROM s) y
                    ON x.band_key = y.band_key
                   AND x.doc_id < y.doc_id)) AS n_candidate_pairs
        """
        for bands, rows in _LSH_CONFIGS
    )
    return f"""
    WITH h AS (
      SELECT doc_id, hs FROM {text.hashed_shingle_table_sql()}
    ), s AS (
      SELECT doc_id, {sig} AS sig FROM h
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           round(est_threshold, 6) AS est_threshold,
           CAST(n_hot_buckets AS BIGINT) AS n_hot_buckets,
           CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs
    FROM ({per_cfg})
    """


@query("q_lsh_tuning", oracle=_lsh_tuning_oracle())
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X427 — LSH design sweep over the 32-slot minhash signature:
    for (bands × rows) ∈ {{4×8, 8×4, 16×2}}, the S-curve threshold
    (1/b)^(1/r), hot-bucket count, and DISTINCT candidate-pair volume
    the config would send to exact verification — the
    recall-vs-candidate-cost dial X142's calibration measures one
    point of, evaluated as three band-key groupings over the SAME
    signature table (signatures computed once; the sweep never
    re-reads text). Choosing b,r from this table is how a 100 TB
    dedup tunes itself on a sample first."""
    h = lsh.shingle_sets(load(spark, sf_dir, "documents"))
    s = h.select(
        "doc_id", hashing.minhash_signature("hs").alias("sig")
    ).localCheckpoint(eager=True)

    def config_row(bands: int, rows: int) -> DataFrame:
        bk = lsh.band_rows(s, bands=bands, rows=rows)
        hot = (
            bk.groupBy("band_key")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .agg(F.count("*").alias("n_hot"))
        )
        cand = lsh.candidates(bk).agg(F.count("*").alias("n_cand"))
        return hot.crossJoin(F.broadcast(cand)).select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(rows).cast("long").alias("rows_per_band"),
            F.round(
                F.pow(F.lit(1.0 / bands), F.lit(1.0 / rows)), 6
            ).alias("est_threshold"),
            F.col("n_hot").cast("long").alias("n_hot_buckets"),
            F.col("n_cand").cast("long").alias("n_candidate_pairs"),
        )

    out = config_row(*_LSH_CONFIGS[0])
    for cfg in _LSH_CONFIGS[1:]:
        out = out.unionByName(config_row(*cfg))
    return out


# ---------------------------------------------------------------------------
# X428 — weight of evidence / information value
# ---------------------------------------------------------------------------


@query(
    "q_woe_iv",
    oracle="""
    WITH binned AS (
      SELECT least(CAST(floor(value / 3) AS BIGINT), 9) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS good
      FROM events WHERE value >= 0
    ), cells AS (
      SELECT bin, sum(good) + 0.5 AS g, count(*) - sum(good) + 0.5 AS b
      FROM binned GROUP BY bin
    ), tot AS (SELECT sum(g) AS tg, sum(b) AS tb FROM cells),
    woe AS (
      SELECT c.bin, c.g, c.b,
             ln((c.g / t.tg) / (c.b / t.tb)) AS woe,
             (c.g / t.tg - c.b / t.tb)
               * ln((c.g / t.tg) / (c.b / t.tb)) AS iv_part
      FROM cells c CROSS JOIN tot t
    )
    SELECT bin, CAST(round(g - 0.5, 0) AS BIGINT) AS n_good,
           CAST(round(b - 0.5, 0) AS BIGINT) AS n_bad,
           round(woe, 6) AS woe,
           round(iv_part, 6) AS iv_contribution,
           round(sum(iv_part) OVER (), 6) AS iv_total
    FROM woe
    """,
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X428 — weight of evidence and information value for the binned
    value feature against the purchase outcome: WoE = ln(%good/%bad)
    per bin (0.5 Laplace smoothing), IV = Σ(%good−%bad)·WoE — credit
    scoring's standard feature screen (IV < 0.02 useless, > 0.5
    suspicious) and the monotone transform scorecards feed to
    regression instead of raw values. One binned rollup, 10-row
    algebra."""
    binned = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") >= 0)
        .select(
            F.least(
                F.floor(F.col("value") / 3).cast("long"), F.lit(9)
            ).alias("bin"),
            (F.col("event_type") == "purchase").cast("int").alias("good"),
        )
    )
    cells = binned.groupBy("bin").agg(
        (F.sum("good") + 0.5).alias("g"),
        (F.count("*") - F.sum("good") + 0.5).alias("b"),
    )
    tot = cells.agg(F.sum("g").alias("tg"), F.sum("b").alias("tb"))
    pg = F.col("g") / F.col("tg")
    pb = F.col("b") / F.col("tb")
    woe = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "g",
        "b",
        F.log(pg / pb).alias("woe"),
        ((pg - pb) * F.log(pg / pb)).alias("iv_part"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return woe.select(
        "bin",
        F.round(F.col("g") - 0.5, 0).cast("long").alias("n_good"),
        F.round(F.col("b") - 0.5, 0).cast("long").alias("n_bad"),
        F.round("woe", 6).alias("woe"),
        F.round("iv_part", 6).alias("iv_contribution"),
        F.round(F.sum("iv_part").over(wall), 6).alias("iv_total"),
    )


# ---------------------------------------------------------------------------
# X429 — standardized effect sizes
# ---------------------------------------------------------------------------


@query(
    "q_effect_size",
    oracle="""
    WITH x AS (
      SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g, value
      FROM events WHERE event_type IN ('click', 'purchase')
    ), s AS (
      SELECT g, count(*) AS n, avg(value) AS m,
             (sum(value * value) - count(*) * avg(value) * avg(value))
               / (count(*) - 1) AS v
      FROM x GROUP BY g
    ), w AS (
      SELECT max(CASE WHEN g = 0 THEN n END) AS n1,
             max(CASE WHEN g = 0 THEN m END) AS m1,
             max(CASE WHEN g = 0 THEN v END) AS v1,
             max(CASE WHEN g = 1 THEN n END) AS n2,
             max(CASE WHEN g = 1 THEN m END) AS m2,
             max(CASE WHEN g = 1 THEN v END) AS v2
      FROM s
    )
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
           round(m2 - m1, 6) AS mean_diff,
           round((m2 - m1) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2)), 6) AS cohens_d,
           round((m2 - m1) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                  / (n1 + n2 - 2))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g,
           round((m2 - m1) / sqrt(v1), 6) AS glass_delta
    FROM w
    """,
)
def q_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X429 — standardized effect sizes for purchase-vs-click value:
    Cohen's d (pooled sd), Hedges' g (small-sample bias correction
    1 − 3/(4N−9)), Glass's Δ (control-group sd) — the magnitude
    language X196's Welch t needs next to its significance (a tiny d
    can be wildly significant at scale, which is exactly the trap).
    One grouped fold to two rows, scalar algebra after."""
    x = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        (F.col("event_type") != "click").cast("int").alias("g"), "value"
    )
    s = x.groupBy("g").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        (
            (
                F.sum(F.col("value") * F.col("value"))
                - F.count("*") * F.avg("value") * F.avg("value")
            )
            / (F.count("*") - 1)
        ).alias("v"),
    )
    w = s.agg(
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 0, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("g") == 0, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == 1, F.col("m"))).alias("m2"),
        F.max(F.when(F.col("g") == 1, F.col("v"))).alias("v2"),
    )
    pooled = F.sqrt(
        (
            (F.col("n1") - 1) * F.col("v1")
            + (F.col("n2") - 1) * F.col("v2")
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (F.col("m2") - F.col("m1")) / pooled
    return w.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_purchase"),
        F.round(F.col("m2") - F.col("m1"), 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round(
            (F.col("m2") - F.col("m1")) / F.sqrt("v1"), 6
        ).alias("glass_delta"),
    )


# ---------------------------------------------------------------------------
# X430 — Page-Hinkley drift detection
# ---------------------------------------------------------------------------


@query(
    "q_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             sum(l_extendedprice * (1 - l_discount)) / 1e6 AS v
      FROM lineitem GROUP BY 1
    ), run AS (
      SELECT d, v,
             avg(v) OVER w AS mean_so_far,
             row_number() OVER (ORDER BY d) AS i
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), m AS (
      SELECT d, i,
             sum(v - mean_so_far) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM run
    ), ph AS (
      SELECT d, i, mt,
             mt - min(mt) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_up
      FROM m
    ), sd AS (
      SELECT sqrt(sum(v * v) / count(*) - avg(v) * avg(v)) AS sd
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(ph.ph_up), 6) AS max_ph,
           CAST(min(CASE WHEN round(ph.ph_up, 6)
                      = (SELECT round(max(ph_up), 6) FROM ph)
                     THEN ph.d END) AS DATE) AS max_ph_day,
           CAST(min(CASE WHEN ph.ph_up > 3 * sd.sd THEN ph.d END)
                AS DATE) AS first_alarm_day,
           CAST(sum(CASE WHEN ph.ph_up > 3 * sd.sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarm_days
    FROM ph CROSS JOIN sd
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X430 — Page-Hinkley upward-drift test on daily revenue ($M):
    m_t = Σ(x_s − mean-so-far_s), PH_t = m_t − min m_s, alarm at
    3σ — the sequential running-mean form of changepoint detection
    (X210's CUSUM tests against a FIXED reference mean; PH adapts the
    reference as it goes, the streaming-friendly variant). Cumulative
    windows over the collapsed daily series only; alarm day and argmax
    pinned deterministically."""
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
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    run = daily.select(
        "d", "v", F.avg("v").over(w).alias("mean_so_far")
    )
    m = run.select(
        "d",
        F.sum(F.col("v") - F.col("mean_so_far")).over(w).alias("mt"),
    )
    ph = m.select(
        "d", (F.col("mt") - F.min("mt").over(w)).alias("ph_up")
    ).localCheckpoint(eager=True)
    sd = daily.agg(
        F.sqrt(
            F.sum(F.col("v") * F.col("v")) / F.count("*")
            - F.avg("v") * F.avg("v")
        ).alias("sd")
    )
    mx = ph.agg(F.round(F.max("ph_up"), 6).alias("mx"))
    return (
        ph.crossJoin(F.broadcast(sd))
        .crossJoin(F.broadcast(mx))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(F.max("ph_up"), 6).alias("max_ph"),
            F.min(
                F.when(F.round("ph_up", 6) == F.col("mx"), F.col("d"))
            ).alias("max_ph_day"),
            F.min(
                F.when(F.col("ph_up") > 3 * F.col("sd"), F.col("d"))
            ).alias("first_alarm_day"),
            F.sum(
                (F.col("ph_up") > 3 * F.col("sd")).cast("int")
            )
            .cast("long")
            .alias("n_alarm_days"),
        )
    )


# ---------------------------------------------------------------------------
# X431 — Jensen-Shannon divergence
# ---------------------------------------------------------------------------


@query(
    "q_js_divergence",
    oracle="""
    WITH cnt AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
    ), langs AS (SELECT DISTINCT lang FROM documents),
    srcs AS (SELECT source, sum(n) AS ns FROM cnt GROUP BY source),
    corpus AS (
      SELECT lang, sum(n) AS n FROM cnt GROUP BY lang
    ), ctot AS (SELECT sum(n) AS t, count(*) AS k FROM corpus),
    dense AS (
      SELECT s.source, l.lang,
             (coalesce(c.n, 0) + 1.0)
               / (s.ns + (SELECT k FROM ctot)) AS p,
             (co.n + 1.0) / ((SELECT t FROM ctot)
                             + (SELECT k FROM ctot)) AS q
      FROM srcs s CROSS JOIN langs l
      LEFT JOIN cnt c ON c.source = s.source AND c.lang = l.lang
      JOIN corpus co ON co.lang = l.lang
    )
    SELECT source,
           round(sum(p * log2(2 * p / (p + q))) / 2
                 + sum(q * log2(2 * q / (p + q))) / 2, 6) AS js_bits,
           round(sum(p * log2(p / q)), 6) AS kl_to_corpus_bits
    FROM dense GROUP BY source
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X431 — Jensen-Shannon divergence (bits) between each source's
    language mix and the corpus mix, with the raw KL alongside: JS is
    symmetric, bounded by 1 bit, and defined even on disjoint
    supports (Laplace-smoothed dense grid) — the distribution
    distance to use when X115's PSI bins or X262's EMD ordering don't
    apply to categorical mixes. All algebra on the k_sources ×
    k_langs grid."""
    d = load(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    langs = d.select("lang").distinct()
    srcs = cnt.groupBy("source").agg(F.sum("n").alias("ns"))
    corpus = cnt.groupBy("lang").agg(F.sum("n").alias("cn"))
    ctot = corpus.agg(F.sum("cn").alias("t"), F.count("*").alias("k"))
    dense = (
        srcs.crossJoin(F.broadcast(langs))
        .join(cnt, ["source", "lang"], "left")
        .join(F.broadcast(corpus), "lang")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            (
                (F.coalesce("n", F.lit(0)) + 1.0)
                / (F.col("ns") + F.col("k"))
            ).alias("p"),
            (
                (F.col("cn") + 1.0) / (F.col("t") + F.col("k"))
            ).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    return dense.groupBy("source").agg(
        F.round(
            F.sum(p * F.log2(2 * p / (p + q))) / 2
            + F.sum(q * F.log2(2 * q / (p + q))) / 2,
            6,
        ).alias("js_bits"),
        F.round(F.sum(p * F.log2(p / q)), 6).alias("kl_to_corpus_bits"),
    )
