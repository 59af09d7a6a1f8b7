"""Round-5 batch A: the JPEG closure (X483).

The round-4 verdict's top ask: baseline JPEG — the format every real
multimodal corpus is overwhelmingly stored in — decoded in pure
stdlib+numpy under the value-hash gate, the same discipline X440
proved for PNG.  ``operators/jpeg.py`` is a full baseline-sequential
codec (Annex K huffman tables written to and read back from DHT,
zigzag, quality-scaled quantization, orthonormal FDCT/IDCT, 4:2:0
box-subsample + replication upsample, YCbCr<->RGB); the gate query
rides the exactness contract documented there: constant-8x8-block
images with unit quantization tables round-trip bit-exactly, so the
DuckDB oracle can recompute the aHash arithmetically while Spark runs
the real entropy-coded decode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import default_parallelism
from ..sources.dims import local_frame
from ..sources.tables import load
from .llm_ext import _image_phash_oracle
from .registry import query

# ---------------------------------------------------------------------------
# X483 — baseline JPEG pipeline under the value-hash gate
# ---------------------------------------------------------------------------


@query("q_jpeg_pipeline", oracle=_image_phash_oracle())
def q_jpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X483 — the DOMINANT real-corpus image format under the gate:
    each embedding's 64 quantized levels become a 64x64 image of
    constant 8x8 blocks (one block per level), encoded to a REAL
    baseline JFIF at quality=100 (unit quantization tables) with 4:2:0
    chroma subsampling, decoded back through the full huffman ->
    dequantize -> IDCT -> chroma-upsample -> YCbCr->RGB path, and
    aHashed.  aHash average-pools 64x64 down to 8x8, so each pooling
    cell averages exactly one constant block and the hash equals the
    8x8 aHash the oracle computes arithmetically (llm_ext.
    _image_phash_oracle) — a match proves encoder, decoder, and hash
    agree bit-for-bit on every image, through a real entropy-coded
    compressed container.

    Scale shape: identical to X189/X440 — a JVM-side quantization
    projection, two Arrow-batched mapInPandas hops (encode, then
    decode+hash), no shuffle anywhere, 8 bytes out per image; the
    repartition spreads the single-split testdata scan across cores
    and no-ops on a real multi-file corpus."""
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import perceptual_hash

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
                rgb = b"".join(
                    bytes((g, g, g)) * 8 for g in
                    (int(v) for row in range(8) for _ in range(8)
                     for v in vals[row * 8 : row * 8 + 8])
                )
                payloads.append(
                    encode_jpeg(64, 64, rgb, quality=100, subsampling="4:2:0")
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = quant.mapInPandas(build, schema="doc_id long, payload binary")
    return perceptual_hash(imgs).select(
        F.col("doc_id").alias("vec_id"), "phash"
    )


# ---------------------------------------------------------------------------
# X484 — point-in-time join to a versioned (SCD2-style) dimension
# ---------------------------------------------------------------------------


@query(
    "q_pit_join",
    oracle="""
    WITH hist AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS cum_spend
      FROM orders
    ), vers AS (
      SELECT o_custkey AS custkey,
             CASE WHEN cum_spend < 100000 THEN 'bronze'
                  WHEN cum_spend < 300000 THEN 'silver'
                  ELSE 'gold' END AS tier,
             o_orderdate AS valid_from,
             coalesce(lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey),
               TIMESTAMP '9999-12-31') AS valid_to
      FROM hist
    )
    SELECT v.tier, count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN vers v ON v.custkey = o.o_custkey
              AND v.valid_from <= l.l_shipdate
              AND l.l_shipdate < v.valid_to
    GROUP BY v.tier
    """,
)
def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X484 — point-in-time (temporal) join: every lineitem joins the
    customer-tier VERSION that was valid at its ship date — the
    correctness-critical pattern for joining facts to an SCD2 dimension
    (X75 builds such dimensions; this query consumes one).  The
    versioned dimension is derived inline: running customer spend
    (rounded to cents BEFORE tiering so both engines branch
    identically) buckets into bronze/silver/gold, each order opening a
    version [orderdate, next orderdate); same-date re-orders produce
    empty intervals that the range predicate drops — latest state wins.

    Scale: the dimension is versions-per-customer (small — dimension
    churn, not fact volume); the PIT join is an equi-join on custkey
    with a residual range predicate, so it hash-partitions on the
    customer key like any other dim join — no interval explosion,
    because versions of ONE customer are disjoint and each fact row
    matches exactly one."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    cum = F.round(
        F.sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        2,
    )
    vers = o.select(
        F.col("o_custkey").alias("custkey"),
        F.when(cum < 100000, "bronze")
        .when(cum < 300000, "silver")
        .otherwise("gold")
        .alias("tier"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("9999-12-31").cast("timestamp"),
        ).alias("valid_to"),
    )
    facts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_custkey", "l_shipdate", "l_extendedprice"
    )
    joined = facts.join(
        vers,
        (vers.custkey == facts.o_custkey)
        & (vers.valid_from <= facts.l_shipdate)
        & (facts.l_shipdate < vers.valid_to),
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# X485 — embedding-space benchmark decontamination
# ---------------------------------------------------------------------------

from ..functions import vectors  # noqa: E402

#: cosine threshold for semantic contamination (same calibrated 0.4 as
#: the SemDeDup family on this synthetic embedding space)
_CONTAM_TAU = 0.4


@query(
    "q_embedding_decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding FROM embeddings
      WHERE vec_id < 50
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50
    ), scored AS (
      SELECT c.vec_id, b.bench_id,
             round({vectors.cosine_sql('c.embedding', 'b.embedding')}, 6)
               AS cos_r,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY round(
                 {vectors.cosine_sql('c.embedding', 'b.embedding')}, 6)
                 DESC, b.bench_id) AS rn
      FROM corpus c CROSS JOIN bench b
    )
    SELECT vec_id, cos_r AS max_cos, cos_r >= {_CONTAM_TAU} AS contaminated,
           CASE WHEN cos_r >= {_CONTAM_TAU} THEN bench_id END
             AS nearest_bench
    FROM scored WHERE rn = 1
    """,
)
def q_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X485 — SEMANTIC benchmark decontamination: X90 removes training
    docs that share n-grams with a benchmark, but paraphrased
    contamination survives lexical checks — the standard countermeasure
    is embedding similarity against the benchmark set.  Corpus vectors
    whose max cosine to any benchmark vector (here: vec_id < 50 stands
    in as the held-out benchmark) clears tau are flagged, with the
    nearest benchmark item recorded for audit (ties: lowest id at the
    rounded similarity).

    Scale: benchmark sets are tiny relative to a corpus (thousands vs
    billions), so the benchmark side BROADCASTS and the scan is one
    map-side pass over the corpus — no shuffle at all; at extreme
    corpus sizes the q_ann_ivf coarse quantizer prefilters candidates
    and only near-centroid pairs evaluate the exact cosine."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    bench = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("bench_id"), F.col("emb").alias("bemb")
    )
    corpus = e.filter(F.col("vec_id") >= 50)
    cos_r = F.round(vectors.cosine("emb", "bemb"), 6)
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id", "bench_id", cos_r.alias("cos_r")
    )
    best = scored.groupBy("vec_id").agg(
        F.max("cos_r").alias("max_cos"),
        F.min_by(
            "bench_id", F.struct((-F.col("cos_r")).alias("nc"), "bench_id")
        ).alias("arg_bench"),
    )
    contaminated = F.col("max_cos") >= F.lit(_CONTAM_TAU)
    return best.select(
        "vec_id",
        "max_cos",
        contaminated.alias("contaminated"),
        F.when(contaminated, F.col("arg_bench")).alias("nearest_bench"),
    )


# ---------------------------------------------------------------------------
# X486 — token-budget epoch allocation (data-constrained scaling)
# ---------------------------------------------------------------------------


@query(
    "q_epoch_allocation",
    oracle="""
    WITH src AS (
      SELECT source,
             sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
               AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(n_tokens) AS total, count(*) AS n_sources FROM src
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_tokens * 1.0 / total, 6) AS corpus_share,
           round(least(4.0, (2.0 * total / n_sources) / n_tokens), 6)
             AS epochs,
           CAST(floor(n_tokens
                      * least(4.0, (2.0 * total / n_sources) / n_tokens))
                AS BIGINT) AS effective_tokens,
           ((2.0 * total / n_sources) / n_tokens) > 4.0 AS starved
    FROM src CROSS JOIN tot
    """,
)
def q_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X486 — token-budget epoch allocation under a repetition cap
    (data-constrained scaling, Muennighoff et al. 2023,
    arXiv:2305.16264: repeating data beyond ~4 epochs returns almost
    nothing): given a training budget of 2x the corpus (uniform target
    share per source), each source gets epochs = min(4, budget_share /
    its tokens); sources whose fair share exceeds the 4-epoch cap are
    flagged STARVED — the signal to go collect more of that source
    rather than repeat it. Complements X92 (mixture sampling) and X229
    (temperature weights): those decide proportions, this decides
    repetition. One rollup + a broadcast scalar; pure map arithmetic."""
    d = load(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    src = d.groupBy("source").agg(F.sum(toks).alias("n_tokens"))
    tot = src.agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    fair = (2.0 * F.col("total") / F.col("n_sources")) / F.col("n_tokens")
    epochs = F.least(F.lit(4.0), fair)
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("n_tokens") * 1.0 / F.col("total"), 6).alias(
            "corpus_share"
        ),
        F.round(epochs, 6).alias("epochs"),
        F.floor(F.col("n_tokens") * epochs).cast("long").alias(
            "effective_tokens"
        ),
        (fair > 4.0).alias("starved"),
    )


# ---------------------------------------------------------------------------
# X487 — DSIR hashed-ngram importance weights
# ---------------------------------------------------------------------------

from ..functions.hashing import token_hash, token_hash_sql  # noqa: E402

_DSIR_B = 256  # hash-feature buckets


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS t
      FROM documents
    ), bucketed AS (
      SELECT doc_id, lang,
             {token_hash_sql('t')} % {_DSIR_B} AS b
      FROM toks
    ), raw AS (
      SELECT b, count(*) AS cr FROM bucketed GROUP BY b
    ), tgt AS (
      SELECT b, count(*) AS ct FROM bucketed WHERE lang = 'en' GROUP BY b
    ), tot AS (
      SELECT (SELECT sum(cr) FROM raw) AS R, (SELECT sum(ct) FROM tgt) AS T
    ), stats AS (
      SELECT raw.b,
             ln((coalesce(ct, 0) + 1.0) / (T + {_DSIR_B}))
               - ln((cr + 1.0) / (R + {_DSIR_B})) AS logratio
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    )
    SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           round(sum(s.logratio), 6) AS dsir_sum,
           round(sum(s.logratio) / count(*), 6) AS dsir_avg
    FROM bucketed k JOIN stats s ON k.b = s.b
    GROUP BY k.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X487 — DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169): hashed unigram features (portable md5 hash →
    256 buckets), bag-of-buckets models for the TARGET domain (lang =
    'en' stands in) and the RAW corpus with add-1 smoothing, and each
    document scored by the summed log-likelihood ratio of its buckets
    — the importance weight DSIR resamples by to tilt a raw corpus
    toward a target domain without training a classifier.  Both the
    length-dependent sum and the per-token average are emitted.

    Scale: two combinable bucket rollups (256 rows — broadcast), one
    map-side join back to the token stream, one per-doc fold; nothing
    pairwise anywhere, the whole plan is ~two scans of the token
    stream. At 100 TB the bucket table is still 256 rows."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "t"
        ),
    )
    bucketed = toks.select(
        "doc_id", "lang", (token_hash(F.col("t")) % _DSIR_B).alias("b")
    )
    raw = bucketed.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (
        bucketed.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    tot = raw.agg(F.sum("cr").alias("R")).crossJoin(
        tgt.agg(F.sum("ct").alias("T"))
    )
    stats = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                    / (F.col("T") + _DSIR_B)
                )
                - F.log((F.col("cr") + 1.0) / (F.col("R") + _DSIR_B))
            ).alias("logratio"),
        )
    )
    return (
        bucketed.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.sum("logratio"), 6).alias("dsir_sum"),
            F.round(F.sum("logratio") / F.count("*"), 6).alias("dsir_avg"),
        )
    )


# ---------------------------------------------------------------------------
# X488 — intra-document repetition audit
# ---------------------------------------------------------------------------


@query(
    "q_intra_doc_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
      FROM toks
    ), cnt AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS distinct_grams,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS rep_ratio,
           CAST(max(c) AS BIGINT) AS max_gram_count
    FROM cnt GROUP BY doc_id
    """,
)
def q_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X488 — WITHIN-document repetition audit: the trigram repetition
    ratio (1 − distinct/total) and the hottest trigram count per doc —
    the standard screen for looped/boilerplate text (degenerate
    generation, scraped templates), complementing X91's CORPUS-level
    duplicate-n-gram fraction: a doc can be globally unique yet
    internally degenerate, and repetition-heavy docs are dropped before
    training. Docs under 3 tokens have no trigrams and are excluded in
    both engines (empty gram list unnests to nothing).

    Scale: trigrams stay (doc_id, gram)-keyed — the shuffle is
    partitioned by doc, never global; one count + one per-doc fold."""
    # the per-doc trigram build + explode is the cost; fan out the
    # single-split scan (guide §2.6)
    d = load(spark, sf_dir, "documents").repartition(default_parallelism())
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    n = F.size(tk)
    grams = F.when(
        n >= 3,
        F.transform(
            F.slice(tk, 1, n - 2),
            lambda x, i: F.concat_ws(
                " ",
                x,
                F.element_at(tk, i + 2),
                F.element_at(tk, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    cnt = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("distinct_grams"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("c"), 6).alias("rep_ratio"),
        F.max("c").cast("long").alias("max_gram_count"),
    )


# ---------------------------------------------------------------------------
# X489 — file-skipping statistics (zone-map pruning audit)
# ---------------------------------------------------------------------------


@query(
    "q_file_skipping",
    oracle="""
    WITH stats AS (
      SELECT CAST(floor(event_id / 256) AS BIGINT) AS file_id,
             min(ts) AS ts_min, max(ts) AS ts_max,
             min(value) AS v_min, max(value) AS v_max,
             count(*) AS n_rows
      FROM events GROUP BY 1
    ), preds AS (
      SELECT 'ts_tail' AS predicate, ts_max >= TIMESTAMP '2024-01-25' AS scanned, n_rows FROM stats
      UNION ALL
      SELECT 'value_high', v_max >= 400.0, n_rows FROM stats
      UNION ALL
      SELECT 'ts_band',
             ts_max >= TIMESTAMP '2024-01-10'
               AND ts_min < TIMESTAMP '2024-01-12', n_rows FROM stats
    ), matched AS (
      SELECT 'ts_tail' AS predicate,
             count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-25') AS rows_matched
      FROM events
      UNION ALL
      SELECT 'value_high', count(*) FILTER (WHERE value >= 400.0) FROM events
      UNION ALL
      SELECT 'ts_band',
             count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-10'
                                AND ts < TIMESTAMP '2024-01-12')
      FROM events
    )
    SELECT p.predicate, CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) FILTER (WHERE NOT scanned) AS BIGINT)
             AS files_skipped,
           CAST(coalesce(sum(n_rows) FILTER (WHERE scanned), 0) AS BIGINT)
             AS rows_scanned,
           CAST(min(m.rows_matched) AS BIGINT) AS rows_matched,
           round(count(*) FILTER (WHERE NOT scanned) * 1.0 / count(*), 6)
             AS skip_ratio
    FROM preds p JOIN matched m ON p.predicate = m.predicate
    GROUP BY p.predicate
    """,
)
def q_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X489 — zone-map file-skipping audit: per-file min/max statistics
    (files simulated as 256-row write-order chunks of events — the
    stand-in for parquet row-group/file footers) evaluated against a
    fixed predicate set, reporting how many files each predicate can
    PRUNE without reading and how many rows the surviving files
    contain vs the rows that actually match.  This is the measurement
    behind every layout decision the engine ships (X93 Z-order, X281
    Hilbert, X149 compaction): skip_ratio near the row selectivity
    means the layout clusters the predicate column well; skip_ratio
    near 0 with low selectivity means the column is scattered and a
    re-cluster pays for itself.  At 100 TB these stats come free from
    the parquet footers; the audit is one metadata-sized aggregate."""
    e = load(spark, sf_dir, "events")
    stats = e.groupBy(
        F.floor(F.col("event_id") / 256).cast("long").alias("file_id")
    ).agg(
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.count("*").alias("n_rows"),
    )
    t25 = F.lit("2024-01-25").cast("timestamp")
    t10 = F.lit("2024-01-10").cast("timestamp")
    t12 = F.lit("2024-01-12").cast("timestamp")
    preds = [
        ("ts_tail", F.col("ts_max") >= t25, F.col("ts") >= t25),
        ("value_high", F.col("v_max") >= 400.0, F.col("value") >= 400.0),
        (
            "ts_band",
            (F.col("ts_max") >= t10) & (F.col("ts_min") < t12),
            (F.col("ts") >= t10) & (F.col("ts") < t12),
        ),
    ]
    out = None
    for name, file_pred, row_pred in preds:
        m = e.agg(
            F.count(F.when(row_pred, 1)).cast("long").alias("rows_matched")
        )
        agg = stats.agg(
            F.count("*").cast("long").alias("n_files"),
            F.count(F.when(~file_pred, 1)).cast("long").alias(
                "files_skipped"
            ),
            F.coalesce(F.sum(F.when(file_pred, F.col("n_rows"))), F.lit(0))
            .cast("long")
            .alias("rows_scanned"),
            F.round(
                F.count(F.when(~file_pred, 1)) * 1.0 / F.count("*"), 6
            ).alias("skip_ratio"),
        ).crossJoin(m)
        row = agg.select(
            F.lit(name).alias("predicate"),
            "n_files",
            "files_skipped",
            "rows_scanned",
            "rows_matched",
            "skip_ratio",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# X490 — Weisfeiler-Lehman graph fingerprint
# ---------------------------------------------------------------------------

from .graph_ext import _EDGES_SQL, _edges  # noqa: E402


def _wl_round_sql(prev: str, out: str) -> str:
    """One WL relabeling round: new label = portable hash of
    'own|sorted neighbor labels' (md5-derived, identical in Spark)."""
    sig = (
        f"CAST({prev}.lbl AS VARCHAR) || '|' || "
        "array_to_string(list(nb.lbl ORDER BY nb.lbl), ',')"
    )
    return f"""{out} AS (
      SELECT {prev}.a, {token_hash_sql(f"({sig})")} AS lbl
      FROM {prev}
      JOIN sym ON sym.a = {prev}.a
      JOIN {prev} nb ON nb.a = sym.b
      GROUP BY {prev}.a, {prev}.lbl)"""


@query(
    "q_wl_colors",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT a, count(*) AS lbl FROM sym GROUP BY a),
    {_wl_round_sql('deg', 'wl1')},
    {_wl_round_sql('wl1', 'wl2')}
    SELECT lbl AS color, CAST(count(*) AS BIGINT) AS n_vertices
    FROM wl2 GROUP BY lbl
    """,
)
def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X490 — Weisfeiler-Lehman color refinement (2 rounds) over the
    shipment graph: labels start as degrees, and each round every
    vertex's label becomes a portable hash of (own label | sorted
    neighbor labels). The final color histogram is the WL fingerprint
    — the standard graph-isomorphism invariant and the feature map of
    WL graph kernels; two snapshots of a pipeline's relationship graph
    can be compared for structural drift by comparing these histograms
    (the graph-shaped complement of X115's distribution PSI).

    Scale: each round is one edge-keyed join + one vertex-keyed
    hash-agg (sort_array over per-vertex neighbor label lists — list
    width = degree, bounded by the same hub discipline as X379);
    rounds are a fixed constant. The md5-derived label hash is the
    engine's portable token_hash, so the DuckDB oracle replays the
    identical relabeling."""
    # hash-partition by `b` once: both rounds' neighbor joins probe sym
    # on `b` and reuse the persisted exchange (guide §2.4)
    from ..session import default_parallelism

    sym = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "b")
        .persist()
    )
    labels = sym.groupBy("a").agg(F.count("*").alias("lbl"))
    for _ in range(2):
        neigh = sym.join(
            labels.select(F.col("a").alias("b"), F.col("lbl").alias("nlbl")),
            "b",
        ).select("a", "nlbl")
        sigs = neigh.groupBy("a").agg(
            F.array_join(
                F.array_sort(F.collect_list("nlbl")), ","
            ).alias("nsig")
        )
        labels = (
            labels.join(sigs, "a")
            .select(
                "a",
                token_hash(
                    F.concat_ws("|", F.col("lbl").cast("string"), "nsig")
                ).alias("lbl"),
            )
            # each round references the previous labels twice (neighbor
            # relabel + own-label join), so unmaterialized lineage
            # re-evaluates the shared prefix exponentially in rounds;
            # the frame is vertex-sized (guide §2.4)
            .localCheckpoint(eager=True)
        )
    out = labels.groupBy(F.col("lbl").alias("color")).agg(
        F.count("*").cast("long").alias("n_vertices")
    )
    return out


# ---------------------------------------------------------------------------
# X491 — Weibull reliability fit over inter-purchase gaps
# ---------------------------------------------------------------------------


@query(
    "q_weibull_fit",
    oracle="""
    WITH purch AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events WHERE event_type = 'purchase'
    ), gaps AS (
      SELECT round((epoch_us(nxt) - epoch_us(ts)) / 3600000000.0, 6)
               AS gap_h
      FROM purch WHERE nxt IS NOT NULL
        AND epoch_us(nxt) > epoch_us(ts)
    ), tot AS (SELECT count(*) AS n FROM gaps),
    dv AS (
      SELECT gap_h, count(*) AS c FROM gaps GROUP BY gap_h
    ), ranked AS (
      SELECT gap_h, c,
             sum(c) OVER (ORDER BY gap_h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c AS cum_less
      FROM dv
    ), pts AS (
      SELECT c,
             ln(gap_h) AS x,
             ln(-ln(1.0 - ((cum_less + (c + 1) / 2.0) - 0.3) / (n + 0.4)))
               AS y
      FROM ranked CROSS JOIN tot
    ), fit AS (
      SELECT sum(c) AS sw, sum(c * x) AS sx, sum(c * y) AS sy,
             sum(c * x * x) AS sxx, sum(c * x * y) AS sxy
      FROM pts
    )
    SELECT CAST(sw AS BIGINT) AS n_gaps,
           round((sw * sxy - sx * sy) / (sw * sxx - sx * sx), 6) AS shape_k,
           round(exp(-((sy - ((sw * sxy - sx * sy) / (sw * sxx - sx * sx))
                         * sx) / sw)
                     / ((sw * sxy - sx * sy) / (sw * sxx - sx * sx))), 6)
             AS scale_h
    FROM fit
    """,
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X491 — Weibull reliability fit over inter-purchase gaps (the
    X292 series): median-rank regression, the standard closed-form
    estimator — plot ln(-ln(1-F_i)) against ln(t_i) with Bernard's
    approximation F_i = (i-0.3)/(n+0.4) and read shape k off the OLS
    slope, scale λ = exp(-intercept/k).  k < 1 means purchase hazard
    DECREASES with time since last purchase (lapsing users), k > 1
    means building momentum — the churn-model primitive under X198's
    nonparametric KM curve.

    Scale: ranks come from cumulative counts over the DISTINCT gap
    domain (ties get midranks), the ECOD/QTE discipline — no
    fact-table sort; the OLS is one weighted moment fold."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "ts", F.lead("ts").over(w).alias("nxt")
        )
        .filter(
            F.col("nxt").isNotNull()
            & (F.unix_micros("nxt") > F.unix_micros("ts"))
        )
        .select(
            F.round(
                (F.unix_micros("nxt") - F.unix_micros("ts")) / 3.6e9, 6
            ).alias("gap_h")
        )
    )
    dv = gaps.groupBy("gap_h").agg(F.count("*").alias("c"))
    wcum = Window.orderBy("gap_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = dv.select(
        "gap_h", "c", (F.sum("c").over(wcum) - F.col("c")).alias("cum_less")
    )
    tot = gaps.agg(F.count("*").alias("n"))
    midrank = F.col("cum_less") + (F.col("c") + 1) / 2.0
    pts = ranked.crossJoin(F.broadcast(tot)).select(
        "c",
        F.log("gap_h").alias("x"),
        F.log(
            -F.log(1.0 - (midrank - 0.3) / (F.col("n") + 0.4))
        ).alias("y"),
    )
    fit = pts.agg(
        F.sum("c").alias("sw"),
        F.sum(F.col("c") * F.col("x")).alias("sx"),
        F.sum(F.col("c") * F.col("y")).alias("sy"),
        F.sum(F.col("c") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("c") * F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("sw") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("sw") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("sw")
    return fit.select(
        F.col("sw").cast("long").alias("n_gaps"),
        F.round(slope, 6).alias("shape_k"),
        F.round(F.exp(-intercept / slope), 6).alias("scale_h"),
    )


# ---------------------------------------------------------------------------
# X494 — JPEG perceptual near-dup pipeline (decode → aHash → banded hamming)
# ---------------------------------------------------------------------------


def _phash_arith_sql(bump_first: bool) -> str:
    """Scalar-SQL aHash of the embedding-derived image (the
    _image_phash_oracle arithmetic), optionally with the FIRST 8x8
    block's gray level bumped by +1 (clamped) — the 'twin' image the
    dedup pipeline manufactures.  Returns an expression over
    ``embedding``."""

    def b(i: int) -> str:
        base = (
            f"least(greatest(CAST(round((CAST(embedding[{i + 1}] AS DOUBLE)"
            f" + 1.0::DOUBLE) * 127.5::DOUBLE) AS BIGINT), 0), 255)"
        )
        if i == 0 and bump_first:
            return f"least({base} + 1, 255)"
        return base

    lums = [
        f"(0.299::DOUBLE * {b(i)} + 0.587::DOUBLE * {b(i)}"
        f" + 0.114::DOUBLE * {b(i)})"
        for i in range(64)
    ]
    arr = "[" + ", ".join(lums) + "]"
    mean = "(" + " + ".join(f"l[{i + 1}]" for i in range(64)) + ") / 64::DOUBLE"
    bits = ["CASE WHEN l[64] >= m THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END"]
    for i in range(62, -1, -1):
        bits.append(
            f"CASE WHEN l[{i + 1}] >= m THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        )
    return (
        f"(SELECT {' + '.join(bits)} FROM (SELECT l, {mean} AS m FROM "
        f"(SELECT {arr} AS l)))"
    )


@query(
    "q_jpeg_dedup",
    oracle=f"""
    WITH hashes AS (
      SELECT vec_id AS img_id, {_phash_arith_sql(False)} AS phash
      FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, {_phash_arith_sql(True)} FROM embeddings
    )
    SELECT a.img_id AS img_a, b.img_id AS img_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 7
    """,
)
def q_jpeg_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X494 — the composed IMAGE near-dup pipeline through a real
    compressed container: every embedding renders as TWO baseline
    JPEGs (the 64x64 constant-block image and a twin with the first
    block one gray level brighter — the 'same photo, re-exported'
    stand-in), both decode through the full entropy-coded path
    (operators/jpeg), aHash, and near-dup pairs surface by the X183
    hamming-band discipline: 8 bands x 8 bits, exact popcount <= 7
    verify on band-collision candidates only.  Pigeonhole makes band
    recall complete at this threshold (a pair within hamming 7 agrees
    on at least one of 8 bands), so the brute-force oracle and the
    banded plan agree exactly; the oracle recomputes both aHashes
    arithmetically, so a match also re-proves the JPEG encoder+decoder
    bit-exactness end to end.

    Scale: decode+hash is the Arrow-batched shuffle-free X483 shape;
    the dedup join shuffles (band_key, img_id, phash) — 24 bytes/row
    regardless of image size; verify is integer xor+popcount."""
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import perceptual_hash

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
    base = emb.select(F.col("vec_id").alias("img_id"), px.alias("px"))
    twin = base.select(
        (F.col("img_id") + 10_000_000).alias("img_id"),
        F.concat(
            F.array(F.least(F.element_at("px", 1) + 1, F.lit(255))),
            F.slice("px", 2, 63),
        ).alias("px"),
    )
    quant = base.unionByName(twin)

    def build(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for vals in pdf["px"]:
                rgb = b"".join(
                    bytes((g, g, g)) * 8 for g in
                    (int(v) for row in range(8) for _ in range(8)
                     for v in vals[row * 8 : row * 8 + 8])
                )
                payloads.append(
                    encode_jpeg(64, 64, rgb, quality=100, subsampling="4:2:0")
                )
            yield pd.DataFrame(
                {"doc_id": pdf["img_id"], "payload": payloads}
            )

    imgs = quant.mapInPandas(build, schema="doc_id long, payload binary")
    hashes = perceptual_hash(imgs).select(
        F.col("doc_id").alias("img_id"), "phash"
    ).persist()
    bands = hashes.select(
        "img_id",
        "phash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda k: k * F.lit(256)
                + F.call_function("shiftright", F.col("phash"), k * 8)
                .bitwiseAND(F.lit(0xFF)),
            )
        ).alias("band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(
        F.col("a.phash").bitwiseXOR(F.col("b.phash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(
            F.col("a.img_id").alias("img_a"),
            F.col("b.img_id").alias("img_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
        .dropDuplicates(["img_a", "img_b"])
    )


# ---------------------------------------------------------------------------
# X495 — PCM audio pipeline under the value-hash gate
# ---------------------------------------------------------------------------


def _audio_oracle() -> str:
    """Arithmetic twin of the WAV pipeline: int16 quantization of the
    embedding, then RMS / peak / zero-crossing rate over the SAMPLES —
    a match proves the WAV writer, RIFF chunk walker, and PCM decode
    return the exact samples that went in."""
    q = (
        "list_transform(embedding, e -> CAST(least(greatest("
        "round(CAST(e AS DOUBLE) * 32767.0::DOUBLE, 0), -32768.0), 32767.0)"
        " AS BIGINT))"
    )
    return f"""
    WITH s AS (SELECT vec_id, {q} AS smp FROM embeddings),
    m AS (
      SELECT vec_id, len(smp) AS n,
             list_aggregate(list_transform(smp, x -> CAST(x * x AS DOUBLE)),
                            'sum') AS ss,
             list_aggregate(list_transform(smp, x -> abs(x)), 'max') AS pk,
             len(list_filter(range(1, len(smp)),
                             i -> smp[i] * smp[i + 1] < 0)) AS crossings
      FROM s
    )
    SELECT vec_id, CAST(n AS BIGINT) AS n_samples,
           CAST(floor(n * 1000.0 / 8000.0) AS BIGINT) AS duration_ms,
           round(sqrt(ss / n), 6) AS rms,
           CAST(pk AS BIGINT) AS peak,
           round(crossings * 1.0 / (n - 1), 6) AS zcr
    FROM m
    """


@query("q_audio_pipeline", oracle=_audio_oracle())
def q_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X495 — the AUDIO modality under the value-hash gate (closing the
    asymmetry where image/video pipelines were gate-pinned but X238's
    WAV decode was pytest-only): each embedding quantizes to 64 int16
    PCM samples, is written as a REAL RIFF/WAVE payload
    (operators.multimodal.encode_wav), decoded back through the chunk
    walker, and summarized — RMS, peak, zero-crossing rate, duration —
    while the oracle recomputes the identical metrics arithmetically
    from the same quantization.  A hash match proves the audio codec
    round-trips samples bit-for-bit inside the Spark pipeline.

    Scale shape: same as X189/X483 — JVM-side quantization, one
    Arrow-batched encode hop, one decode+measure hop, no shuffle, a
    few dozen bytes out per clip."""
    import math

    from ..operators.multimodal import decode_wav, encode_wav

    emb = load(spark, sf_dir, "embeddings").repartition(
        default_parallelism()
    )
    q = F.transform(
        F.col("embedding"),
        lambda v: F.least(
            F.greatest(
                F.round(v.cast("double") * F.lit(32767.0), 0),
                F.lit(-32768.0),
            ),
            F.lit(32767.0),
        ).cast("bigint"),
    )
    quant = emb.select("vec_id", q.alias("smp"))

    def roundtrip(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "vec_id": [], "n_samples": [], "duration_ms": [],
                "rms": [], "peak": [], "zcr": [],
            }
            for vec_id, smp in zip(pdf["vec_id"], pdf["smp"]):
                payload = encode_wav([int(s) for s in smp], sample_rate=8000)
                rate, _ch, out = decode_wav(payload)
                n = len(out)
                crossings = sum(
                    1 for i in range(n - 1) if out[i] * out[i + 1] < 0
                )
                rows["vec_id"].append(vec_id)
                rows["n_samples"].append(n)
                rows["duration_ms"].append(n * 1000 // rate)
                rows["rms"].append(
                    round(math.sqrt(sum(float(s) * s for s in out) / n), 6)
                )
                rows["peak"].append(max(abs(s) for s in out))
                rows["zcr"].append(round(crossings / (n - 1), 6))
            yield pd.DataFrame(rows)

    return quant.mapInPandas(
        roundtrip,
        schema="vec_id long, n_samples long, duration_ms long, "
        "rms double, peak long, zcr double",
    )


# ---------------------------------------------------------------------------
# X496 — MATCH_RECOGNIZE-style sequence pattern over event streams
# ---------------------------------------------------------------------------


@query(
    "q_match_recognize",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events GROUP BY user_id
    ), pos AS (
      SELECT user_id, seq,
             strpos(seq, 'v') AS v_pos
      FROM seqs
    ), pc AS (
      SELECT user_id, seq, v_pos,
             CASE WHEN v_pos > 0 AND strpos(substr(seq, v_pos + 1), 'c') > 0
                  THEN strpos(substr(seq, v_pos + 1), 'c') + v_pos
                  ELSE 0 END AS c_pos
      FROM pos
    ), pp AS (
      SELECT user_id, seq, v_pos, c_pos,
             CASE WHEN c_pos > 0 AND strpos(substr(seq, c_pos + 1), 'p') > 0
                  THEN strpos(substr(seq, c_pos + 1), 'p') + c_pos
                  ELSE 0 END AS p_pos
      FROM pc
    )
    SELECT user_id, CAST(v_pos AS BIGINT) AS v_pos,
           CAST(c_pos AS BIGINT) AS c_pos,
           CAST(p_pos AS BIGINT) AS p_pos,
           p_pos > 0 AND strpos(substr(seq, v_pos + 1, p_pos - v_pos - 1),
                                'e') = 0 AS matched
    FROM pp
    """,
)
def q_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X496 — MATCH_RECOGNIZE-style row-pattern detection, compiled to
    set operations: the pattern ``VIEW any* CLICK any* PURCHASE`` with
    the guard ``no ERROR inside the match`` (the SQL:2016
    MATCH_RECOGNIZE / FlinkSQL CEP shape, which neither Spark nor
    DuckDB implements natively) is evaluated for every user with
    earliest-match (greedy leftmost) semantics — the standard
    compilation: materialize each user's ordered event-initial string
    once, then resolve pattern variables as ordered position lookups.
    Complements X97 (adjacent-pair CEP) and X390 (path mining) with
    gap-tolerant multi-variable patterns + negation.

    Scale: one user-keyed fold builds the sequence string (bounded by
    per-user event counts — the same bound every sessionization op
    relies on); everything after is per-row string scalar work, no
    further shuffle. At 100 TB sequences shard by (user, week) first."""
    e = load(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts",
                                "event_id",
                                F.substring("event_type", 1, 1).alias("i"),
                            )
                        )
                    ),
                    lambda s: s["i"],
                ),
                "",
            ).alias("seq")
        )
    )
    v_pos = F.instr(F.col("seq"), "v")
    after_v = F.expr("substr(seq, v_pos + 1)")
    c_rel = F.instr(after_v, "c")
    c_pos = F.when((v_pos > 0) & (c_rel > 0), c_rel + v_pos).otherwise(0)
    after_c = F.expr("substr(seq, c_pos + 1)")
    p_rel = F.instr(after_c, "p")
    p_pos = F.when((c_pos > 0) & (p_rel > 0), p_rel + c_pos).otherwise(0)
    inside = F.expr("substr(seq, v_pos + 1, p_pos - v_pos - 1)")
    staged = (
        seq.withColumn("v_pos", v_pos.cast("long"))
        .withColumn("c_pos", c_pos.cast("long"))
        .withColumn("p_pos", p_pos.cast("long"))
    )
    return staged.select(
        "user_id",
        "v_pos",
        "c_pos",
        "p_pos",
        ((F.col("p_pos") > 0) & (F.instr(inside, "e") == 0)).alias(
            "matched"
        ),
    )


# ---------------------------------------------------------------------------
# X497 — cluster-layout partition advisor
# ---------------------------------------------------------------------------

_TARGET_SHUFFLE_MB = 128
_TARGET_FILE_MB = 512


@query(
    "q_partition_advisor",
    oracle=f"""
    WITH stats AS (
      SELECT 'lineitem' AS tbl, count(*) AS n_rows,
             count(*) * 120 AS bytes_est FROM lineitem
      UNION ALL
      SELECT 'orders', count(*), count(*) * 100 FROM orders
      UNION ALL
      SELECT 'events', count(*), count(*) * 60 FROM events
      UNION ALL
      SELECT 'documents', count(*),
             sum(n_chars) + count(*) * 40 FROM documents
    ), keyshare AS (
      SELECT 'lineitem' AS tbl,
             max(c) * 1.0 / sum(c) AS top_key_share FROM (
               SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)
      UNION ALL
      SELECT 'orders', max(c) * 1.0 / sum(c) FROM (
               SELECT count(*) AS c FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'events', max(c) * 1.0 / sum(c) FROM (
               SELECT count(*) AS c FROM events GROUP BY user_id)
      UNION ALL
      SELECT 'documents', max(c) * 1.0 / sum(c) FROM (
               SELECT count(*) AS c FROM documents GROUP BY source)
    )
    SELECT s.tbl, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(bytes_est AS BIGINT) AS bytes_est,
           CAST(least(greatest(ceil(bytes_est
                 / ({_TARGET_SHUFFLE_MB} * 1048576.0)), 32), 2000) AS BIGINT)
             AS shuffle_partitions,
           CAST(greatest(ceil(bytes_est
                 / ({_TARGET_FILE_MB} * 1048576.0)), 1) AS BIGINT)
             AS target_files,
           round(k.top_key_share, 6) AS top_key_share,
           CAST(CASE WHEN k.top_key_share * least(greatest(ceil(bytes_est
                  / ({_TARGET_SHUFFLE_MB} * 1048576.0)), 32), 2000) > 1.0
                THEN ceil(k.top_key_share * least(greatest(ceil(bytes_est
                  / ({_TARGET_SHUFFLE_MB} * 1048576.0)), 32), 2000))
                ELSE 1 END AS BIGINT) AS salt_factor
    FROM stats s JOIN keyshare k ON s.tbl = k.tbl
    """,
)
def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X497 — layout advisor: turns table statistics into the three
    numbers every Spark job tunes by hand — shuffle partition count
    (size-based: bytes / 128 MB, clamped [32, 2000]), output file
    count (bytes / 512 MB — the X149 small-file discipline), and a
    skew SALT FACTOR for the dominant join key (ceil(top-key share x
    partitions); 1 means the hottest key already fits one partition,
    >1 is the replication factor the X88/X303 salted join should use).
    Row widths are fixed per-schema estimates (at 100 TB they come
    from ANALYZE/parquet footers — X105); the advisor itself is four
    metadata-sized rollups.

    The point at scale: partition counts derived from DATA SIZE keep
    per-task shuffle blocks near the 128 MB sweet spot at any corpus
    size — the config that a fixed spark.sql.shuffle.partitions gets
    wrong by 100x somewhere between sf0.01 and 100 TB."""
    import functools

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    d = load(spark, sf_dir, "documents")

    def stats(df, name, width_expr, key):
        base = df.agg(
            F.count("*").alias("n_rows"), width_expr.alias("bytes_est")
        ).select(F.lit(name).alias("tbl"), "n_rows", "bytes_est")
        share = (
            df.groupBy(key)
            .agg(F.count("*").alias("c"))
            .agg((F.max("c") * 1.0 / F.sum("c")).alias("top_key_share"))
        )
        return base.crossJoin(share)

    parts = [
        stats(li, "lineitem", (F.count("*") * 120), "l_suppkey"),
        stats(o, "orders", (F.count("*") * 100), "o_custkey"),
        stats(e, "events", (F.count("*") * 60), "user_id"),
        stats(
            d,
            "documents",
            (F.sum("n_chars") + F.count("*") * 40),
            "source",
        ),
    ]
    all_stats = functools.reduce(lambda a, b: a.unionByName(b), parts)
    shuffle_parts = F.least(
        F.greatest(
            F.ceil(F.col("bytes_est") / (_TARGET_SHUFFLE_MB * 1048576.0)),
            F.lit(32),
        ),
        F.lit(2000),
    )
    salt_raw = F.col("top_key_share") * shuffle_parts
    return all_stats.select(
        "tbl",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("bytes_est").cast("long").alias("bytes_est"),
        shuffle_parts.cast("long").alias("shuffle_partitions"),
        F.greatest(
            F.ceil(F.col("bytes_est") / (_TARGET_FILE_MB * 1048576.0)),
            F.lit(1),
        )
        .cast("long")
        .alias("target_files"),
        F.round("top_key_share", 6).alias("top_key_share"),
        F.when(salt_raw > 1.0, F.ceil(salt_raw))
        .otherwise(1)
        .cast("long")
        .alias("salt_factor"),
    )


# ---------------------------------------------------------------------------
# X498 — time-respecting (temporal) reachability
# ---------------------------------------------------------------------------


@query(
    "q_temporal_reach",
    oracle="""
    WITH ed AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c,
             o.o_orderdate AS t
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), hop1 AS (
      SELECT c, min(t) AS reach_t FROM ed WHERE s IN (1, 2, 3, 4, 5)
      GROUP BY c
    ), hop2 AS (
      SELECT ed.s, min(ed.t) AS reach_t
      FROM ed JOIN hop1 ON ed.c = hop1.c AND ed.t >= hop1.reach_t
      WHERE ed.s NOT IN (1, 2, 3, 4, 5)
      GROUP BY ed.s
    )
    SELECT 1 AS dist, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(reach_t) AS VARCHAR) AS earliest
    FROM hop1
    UNION ALL
    SELECT 2, count(*), CAST(min(reach_t) AS VARCHAR) FROM hop2
    """,
)
def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X498 — TIME-RESPECTING reachability (temporal BFS): hop 2 may
    only use edges whose timestamp is >= the time hop 1 arrived — the
    semantics that matter for influence/contagion/fraud tracing, where
    static k-hop (X175) overcounts paths that go BACKWARD in time.
    Seeds: suppliers 1-5; edges: supplier->customer stamped with the
    order date; each frontier keeps the EARLIEST arrival per node
    (min(t) is the correct merge because any later path is dominated —
    the same monotone-fixpoint argument as X217's Bellman-Ford).

    Scale: per hop one edge-keyed join + one node-keyed min — the
    Pregel superstep shape; frontier state is (node, earliest_t), 16
    bytes. The temporal filter composes with the join predicate, so
    no post-filter blowup."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    ed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"),
            F.col("o_custkey").alias("c"),
            F.col("o_orderdate").alias("t"),
        )
        .distinct()
    )
    seeds = [1, 2, 3, 4, 5]
    hop1 = (
        ed.filter(F.col("s").isin(seeds))
        .groupBy("c")
        .agg(F.min("t").alias("reach_t"))
    )
    hop2 = (
        ed.join(hop1.select(F.col("c").alias("hc"), "reach_t"),
                (ed.c == F.col("hc")) & (ed.t >= F.col("reach_t")))
        .filter(~F.col("s").isin(seeds))
        .groupBy("s")
        .agg(F.min("t").alias("reach_t"))
    )

    def level(df, dist):
        return df.agg(
            F.lit(dist).alias("dist"),
            F.count("*").cast("long").alias("n_nodes"),
            F.date_format(
                F.min("reach_t"), "yyyy-MM-dd HH:mm:ss"
            ).alias("earliest"),
        )

    return level(hop1, 1).unionByName(level(hop2, 2))


# ---------------------------------------------------------------------------
# X499 — JSON schema-drift profile
# ---------------------------------------------------------------------------


@query(
    "q_json_profile",
    oracle="""
    WITH tot AS (SELECT count(*) AS n FROM events)
    SELECT 'amount' AS key,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_present,
           round(count(*) FILTER (WHERE event_type = 'purchase')
                 * 1.0 / min(tot.n), 6) AS present_rate,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN value END) AS BIGINT) AS n_distinct,
           'double' AS inferred_type
    FROM events CROSS JOIN tot
    UNION ALL
    SELECT 'k', count(*), 1.0,
           count(DISTINCT CAST(json_extract(props, '$.k') AS INT)), 'bigint'
    FROM events
    UNION ALL
    SELECT 'user', count(*), 1.0, count(DISTINCT user_id), 'bigint'
    FROM events
    """,
)
def q_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X499 — semi-structured schema-drift profile: ingest a JSON
    column (synthesized here: every event re-serialized with its
    variant 'k', its user, and — only on purchases — an 'amount'
    field, which Spark's null-dropping JSON writer omits elsewhere,
    the way real event payloads grow optional fields), then profile
    the ACTUAL key space from the data: per key, presence count/rate,
    distinct-value cardinality, and the inferred primitive type
    (narrowest of bigint < double < string that every present value
    parses as). The oracle computes the expected profile from the base
    columns, so a match proves the whole JSON write -> parse ->
    explode -> infer path. This is the audit that catches producers
    silently adding/dropping/retyping fields — the open-schema
    companion to X104's fixed-schema DQ battery.

    Scale: one map pass to serialize+parse (no shuffle), one
    (key)-keyed rollup over exploded entries — key cardinality is
    schema-sized, so the aggregate state is tiny at any corpus."""
    e = load(spark, sf_dir, "events")
    js = F.to_json(
        F.struct(
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.col("user_id").alias("user"),
            F.when(F.col("event_type") == "purchase", F.col("value")).alias(
                "amount"
            ),
        )
    )
    entries = (
        e.select(F.explode(F.from_json(js, "map<string,string>")).alias(
            "key", "val"
        ))
    )
    tot = e.agg(F.count("*").alias("n"))
    prof = (
        entries.groupBy("key")
        .agg(
            F.count("*").alias("n_present"),
            F.countDistinct("val").cast("long").alias("n_distinct"),
            F.count_if(F.expr("try_cast(val AS BIGINT)").isNull()).alias(
                "non_int"
            ),
            F.count_if(F.expr("try_cast(val AS DOUBLE)").isNull()).alias(
                "non_num"
            ),
        )
        .crossJoin(F.broadcast(tot))
    )
    inferred = (
        F.when(F.col("non_int") == 0, "bigint")
        .when(F.col("non_num") == 0, "double")
        .otherwise("string")
    )
    return prof.select(
        "key",
        F.col("n_present").cast("long").alias("n_present"),
        F.round(F.col("n_present") * 1.0 / F.col("n"), 6).alias(
            "present_rate"
        ),
        "n_distinct",
        inferred.alias("inferred_type"),
    )


# ---------------------------------------------------------------------------
# X500 — community conductance (cut quality)
# ---------------------------------------------------------------------------

from .graph_ext import _lpa_round_sql  # noqa: E402


@query(
    "q_conductance",
    oracle=f"""
    WITH {_EDGES_SQL},
    l0 AS (SELECT DISTINCT a, a AS lbl FROM sym),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')},
    {_lpa_round_sql('l2', 'l3')},
    lab AS (SELECT a, lbl FROM l3),
    m AS (SELECT count(*) AS vol_all FROM sym),
    per AS (
      SELECT la.lbl AS community,
             count(*) AS vol,
             count(*) FILTER (WHERE la.lbl <> lb.lbl) AS cut
      FROM sym JOIN lab la ON sym.a = la.a JOIN lab lb ON sym.b = lb.a
      GROUP BY la.lbl
    )
    SELECT community, CAST(vol AS BIGINT) AS volume,
           CAST(cut AS BIGINT) AS cut_edges,
           round(cut * 1.0 / least(vol, vol_all - vol), 6) AS conductance
    FROM per CROSS JOIN m
    WHERE vol >= 20
    """,
)
def q_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X500 — conductance of the X174 label-propagation communities:
    phi(C) = cut(C) / min(vol(C), vol(rest)) — the cut-quality metric
    that X294's modularity does not capture (modularity rewards big
    communities; conductance measures how LEAKY each one is — low phi
    = a real cluster, phi near 1 = an arbitrary slice). Communities
    below volume 20 are dropped (singleton noise).

    Scale: the community labels join onto each edge endpoint (two
    vertex-keyed joins — the LPA rounds already paid them) and one
    (community)-keyed rollup; vol_all is a broadcast scalar."""
    # hash-partition by `b` once: every LPA round's label join probes
    # sym on `b` and reuses the persisted exchange (guide §2.4)
    from ..session import default_parallelism

    sym = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "b")
        .persist()
    )
    labels = sym.select("a").distinct().withColumn("lbl", F.col("a"))
    for _ in range(3):
        counts = (
            sym.join(labels.select(F.col("a").alias("b"), "lbl"), "b")
            .groupBy("a", "lbl")
            .agg(F.count("*").alias("c"))
        )
        labels = counts.groupBy("a").agg(
            F.min_by(
                "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
            ).alias("lbl")
        )
    # labels feeds BOTH edge endpoints below; without a cut the whole
    # 3-round LPA lineage is evaluated twice (guide §2.4 — duplicated
    # subtrees). The label table is vertex-sized, so the cut is cheap.
    labels = labels.localCheckpoint(eager=True)
    la = labels.select(F.col("a").alias("ea"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("a").alias("eb"), F.col("lbl").alias("lb"))
    edges = sym.join(la, sym.a == la.ea).join(lb, sym.b == lb.eb)
    m = sym.agg(F.count("*").alias("vol_all"))
    per = edges.groupBy(F.col("la").alias("community")).agg(
        F.count("*").alias("vol"),
        F.count_if(F.col("la") != F.col("lb")).alias("cut"),
    )
    return (
        per.crossJoin(F.broadcast(m))
        .filter(F.col("vol") >= 20)
        .select(
            "community",
            F.col("vol").cast("long").alias("volume"),
            F.col("cut").cast("long").alias("cut_edges"),
            F.round(
                F.col("cut")
                * 1.0
                / F.least(F.col("vol"), F.col("vol_all") - F.col("vol")),
                6,
            ).alias("conductance"),
        )
    )


# ---------------------------------------------------------------------------
# X501 — 2x2 factorial interaction test
# ---------------------------------------------------------------------------

from .round4o import _ERF_SQL, _p_two_sided  # noqa: E402


@query(
    "q_factorial_interaction",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS f1,
             CAST(floor(user_id / 2) AS BIGINT) % 2 AS f2,
             count(*) AS n, avg(value) AS m,
             var_samp(value) AS v
      FROM events GROUP BY 1, 2
    ), wide AS (
      SELECT
        max(CASE WHEN f1 = 0 AND f2 = 0 THEN n END) AS n00,
        max(CASE WHEN f1 = 0 AND f2 = 0 THEN m END) AS m00,
        max(CASE WHEN f1 = 0 AND f2 = 0 THEN v END) AS v00,
        max(CASE WHEN f1 = 0 AND f2 = 1 THEN n END) AS n01,
        max(CASE WHEN f1 = 0 AND f2 = 1 THEN m END) AS m01,
        max(CASE WHEN f1 = 0 AND f2 = 1 THEN v END) AS v01,
        max(CASE WHEN f1 = 1 AND f2 = 0 THEN n END) AS n10,
        max(CASE WHEN f1 = 1 AND f2 = 0 THEN m END) AS m10,
        max(CASE WHEN f1 = 1 AND f2 = 0 THEN v END) AS v10,
        max(CASE WHEN f1 = 1 AND f2 = 1 THEN n END) AS n11,
        max(CASE WHEN f1 = 1 AND f2 = 1 THEN m END) AS m11,
        max(CASE WHEN f1 = 1 AND f2 = 1 THEN v END) AS v11
      FROM cells
    ), stat AS (
      SELECT *,
             (m11 - m10) - (m01 - m00) AS interaction,
             sqrt(v00 / n00 + v01 / n01 + v10 / n10 + v11 / n11) AS se
      FROM wide
    )
    SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
           CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
           round(m00, 6) AS m00, round(m01, 6) AS m01,
           round(m10, 6) AS m10, round(m11, 6) AS m11,
           round(interaction, 6) AS interaction,
           round(interaction / se, 6) AS z,
           round(1 - {_ERF_SQL.format(z='abs(interaction / se)')}, 6)
             AS p_value
    FROM stat
    """,
)
def q_factorial_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X501 — 2x2 factorial interaction: when two experiment factors
    ship together (hash-split on different user-id bits, the standard
    overlapping-experiment layering), the INTERACTION contrast
    (m11-m10)-(m01-m00) is what tells you the features are not
    additive — the readout every layered experimentation platform
    needs before attributing lift to either factor alone (X199 tests
    one factor; X350 detects confounded segments; this tests factor
    synergy). Welch-style SE from per-cell variances, normal reference
    via the shared A&S erf polynomial.

    Scale: one grouped moment pass over 4 cells, then scalar algebra."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 2).cast("int").alias("f1"),
        (F.floor(F.col("user_id") / 2) % 2).alias("f2"),
    ).agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )

    def cell(f1, f2, col):
        return F.max(
            F.when((F.col("f1") == f1) & (F.col("f2") == f2), F.col(col))
        )

    wide = cells.agg(
        *[
            cell(a, b, c).alias(f"{c}{a}{b}")
            for a in (0, 1)
            for b in (0, 1)
            for c in ("n", "m", "v")
        ]
    )
    interaction = (F.col("m11") - F.col("m10")) - (
        F.col("m01") - F.col("m00")
    )
    se = F.sqrt(
        F.col("v00") / F.col("n00")
        + F.col("v01") / F.col("n01")
        + F.col("v10") / F.col("n10")
        + F.col("v11") / F.col("n11")
    )
    z = interaction / se
    return wide.select(
        *[F.col(f"n{a}{b}").cast("long").alias(f"n{a}{b}")
          for a in (0, 1) for b in (0, 1)],
        *[F.round(f"m{a}{b}", 6).alias(f"m{a}{b}")
          for a in (0, 1) for b in (0, 1)],
        F.round(interaction, 6).alias("interaction"),
        F.round(z, 6).alias("z"),
        F.round(_p_two_sided(z), 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# X502 — purged time-series cross-validation folds
# ---------------------------------------------------------------------------


@query(
    "q_purged_cv",
    oracle="""
    WITH bounds AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi,
             count(*) AS n_total
      FROM events
    ), folded AS (
      SELECT event_id, ts,
             least(CAST(floor((epoch_us(ts) - lo) * 5.0 / (hi - lo + 1))
                        AS INT), 4) AS fold,
             lo, hi, n_total
      FROM events CROSS JOIN bounds
    ), marked AS (
      SELECT f1.fold AS test_fold, f2.event_id,
             CASE
               WHEN f2.fold = f1.fold THEN 'test'
               WHEN abs(epoch_us(f2.ts)
                        - (lo + (f1.fold + 0.5) * (hi - lo + 1) / 5.0))
                    <= (hi - lo + 1) / 10.0 + 86400000000 THEN 'purged'
               ELSE 'train'
             END AS role
      FROM (SELECT DISTINCT fold FROM folded) f1
      CROSS JOIN folded f2
    )
    SELECT test_fold, role, CAST(count(*) AS BIGINT) AS n
    FROM marked GROUP BY test_fold, role
    """,
)
def q_purged_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X502 — purged time-series cross-validation (the Lopez de Prado
    protocol, public in 'Advances in Financial Machine Learning'):
    events split into 5 contiguous TIME folds; for each test fold, any
    training row within an EMBARGO of one day beyond the fold's span
    is PURGED — the leakage guard ordinary K-fold (X260) lacks when
    labels overlap time (a row just before the test window carries
    look-ahead information into training).  Output: per (test fold,
    role) row counts — train / test / purged — the audit that proves
    the temporal split leaks nothing.

    Scale: fold assignment is a map-side projection off a broadcast
    (min, max) scalar; the 5-fold marking is a broadcast cross of 5
    fold ids against the fact table — one pass, no pairwise work."""
    e = load(spark, sf_dir, "events")
    b = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
        F.count("*").alias("n_total"),
    )
    folded = e.crossJoin(F.broadcast(b)).select(
        "event_id",
        "ts",
        "lo",
        "hi",
        F.least(
            F.floor(
                (F.unix_micros("ts") - F.col("lo"))
                * 5.0
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int"),
            F.lit(4),
        ).alias("fold"),
    )
    fold_ids = folded.select(F.col("fold").alias("test_fold")).distinct()
    marked = fold_ids.crossJoin(folded)
    span = F.col("hi") - F.col("lo") + 1
    center = F.col("lo") + (F.col("test_fold") + 0.5) * span / 5.0
    role = (
        F.when(F.col("fold") == F.col("test_fold"), "test")
        .when(
            F.abs(F.unix_micros("ts") - center)
            <= span / 10.0 + 86_400_000_000,
            "purged",
        )
        .otherwise("train")
    )
    return (
        marked.select("test_fold", role.alias("role"))
        .groupBy("test_fold", "role")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# X503 — watermark advisor (allowance from the measured lateness CDF)
# ---------------------------------------------------------------------------


@query(
    "q_watermark_advisor",
    oracle="""
    WITH arr AS (
      SELECT event_type, ts,
             max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hwm
      FROM events
    ), late AS (
      SELECT event_type,
             greatest(0, epoch_us(hwm) - epoch_us(ts)) / 1000000 AS late_s
      FROM arr
    ), dv AS (
      SELECT event_type, late_s, count(*) AS c FROM late GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, late_s, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY late_s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM dv
    )
    SELECT event_type,
           CAST(min(CASE WHEN cum >= n * 0.999 THEN late_s END) AS BIGINT)
             AS watermark_s,
           CAST(min(CASE WHEN cum >= n * 0.999 THEN ceil(late_s / 60.0) END)
                AS BIGINT) AS watermark_min_ceil,
           round(min(CASE WHEN cum >= n * 0.999 THEN cum END)
                 * 1.0 / min(n), 6) AS retained_frac,
           CAST(min(n) - min(CASE WHEN cum >= n * 0.999 THEN cum END)
                AS BIGINT) AS dropped_rows
    FROM ranked GROUP BY event_type
    """,
)
def q_watermark_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X503 — watermark sizing from evidence: X338 measures HOW late
    events arrive; this query turns that distribution into the number
    a streaming job actually configures — the smallest allowance that
    retains >= 99.9% of rows per stream (the exact lateness value at
    the 0.999 cumulative cut, read off value-domain cumulative counts
    — the ECOD/QTE discipline, no per-row rank sort), plus what the
    chosen watermark still drops.  withWatermark takes this value
    directly; re-run after drift and the number updates itself.

    Scale: lateness per row is one arrival-order window (shared with
    X338); the advisor itself aggregates the DISTINCT lateness domain
    per stream — bounded by distinct second values, not rows."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = e.select(
        "event_type",
        (
            F.greatest(
                F.lit(0),
                F.unix_micros(F.max("ts").over(w)) - F.unix_micros("ts"),
            )
            / 1_000_000
        ).cast("long").alias("late_s"),
    )
    dv = late.groupBy("event_type", "late_s").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("late_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    ranked = dv.select(
        "event_type",
        "late_s",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    hit = F.when(F.col("cum") >= F.col("n") * 0.999, F.col("late_s"))
    hit_cum = F.when(F.col("cum") >= F.col("n") * 0.999, F.col("cum"))
    return ranked.groupBy("event_type").agg(
        F.min(hit).cast("long").alias("watermark_s"),
        F.min(F.ceil(hit / 60.0)).cast("long").alias("watermark_min_ceil"),
        F.round(F.min(hit_cum) * 1.0 / F.min("n"), 6).alias(
            "retained_frac"
        ),
        (F.min("n") - F.min(hit_cum)).cast("long").alias("dropped_rows"),
    )


# ---------------------------------------------------------------------------
# X504 — quality-filter threshold sweep (the data/quality frontier)
# ---------------------------------------------------------------------------


@query(
    "q_filter_sweep",
    oracle="""
    WITH m AS (
      SELECT doc_id, n_chars,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tok,
             round(
               0.4 * least(len(list_filter(string_split(text, ' '),
                                           t -> t <> '')) / 100.0, 1.0)
               + 0.3 * (1.0 - abs(0.4 -
                   len(list_filter(string_split(text, ' '),
                       t -> t IN ('the','a','is','of','and'))) * 1.0 /
                   greatest(len(list_filter(string_split(text, ' '),
                                t -> t <> '')), 1)))
               + 0.3 * least((length(text) - length(replace(text, ' ', '')))
                   * 1.0 / greatest(len(list_filter(string_split(text, ' '),
                                        t -> t <> '')), 1) / 10.0, 1.0),
             6) AS q
      FROM documents
    ), grid AS (
      SELECT CAST(unnest([0.0, 0.2, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS tau
    )
    SELECT tau,
           CAST(count(*) FILTER (WHERE q >= tau) AS BIGINT) AS docs_kept,
           CAST(coalesce(sum(n_tok) FILTER (WHERE q >= tau), 0) AS BIGINT)
             AS tokens_kept,
           round(coalesce(sum(n_tok) FILTER (WHERE q >= tau), 0)
                 * 1.0 / sum(n_tok), 6) AS token_frac,
           round(coalesce(avg(q) FILTER (WHERE q >= tau), 0.0), 6)
             AS mean_quality
    FROM grid CROSS JOIN m
    GROUP BY tau
    """,
)
def q_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X504 — the data-vs-quality frontier: sweep the E5 quality-score
    cutoff over a fixed grid and report, per threshold, surviving
    docs/tokens and mean surviving quality — the curve every filtered
    pretraining corpus is tuned on (filter too hard and the token
    budget starves — X486; too soft and perplexity suffers), published
    as one table instead of N pipeline reruns.

    Scale: the quality score is ONE projection pass (the E5-style
    length/stopword/token-length blend, inlined so the oracle mirrors
    it exactly); the sweep is a 7-row broadcast grid crossed
    against doc-level metrics — adding thresholds costs nothing."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(
            F.split("text", " "),
            lambda t: t.isin("the", "a", "is", "of", "and"),
        )
    )
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    avg_tok_len = spaces * 1.0 / F.greatest(n_tok, F.lit(1))
    q = F.round(
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3
        * (1.0 - F.abs(0.4 - sw * 1.0 / F.greatest(n_tok, F.lit(1))))
        + 0.3 * F.least(avg_tok_len / 10.0, F.lit(1.0)),
        6,
    )
    m = d.select("doc_id", n_tok.alias("n_tok"), q.alias("q"))
    grid = local_frame(
        spark,
        [(t,) for t in (0.0, 0.2, 0.4, 0.5, 0.6, 0.7, 0.8)], "tau double"
    )
    keep = F.col("q") >= F.col("tau")
    return (
        F.broadcast(grid)
        .crossJoin(m)
        .groupBy("tau")
        .agg(
            F.count(F.when(keep, 1)).cast("long").alias("docs_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0))
                * 1.0
                / F.sum("n_tok"),
                6,
            ).alias("token_frac"),
            F.round(
                F.coalesce(F.avg(F.when(keep, F.col("q"))), F.lit(0.0)), 6
            ).alias("mean_quality"),
        )
    )


# ---------------------------------------------------------------------------
# X505 — best-of-cluster dedup survivorship
# ---------------------------------------------------------------------------

_Q_SQL = """round(
  0.4 * least(len(list_filter(string_split(text, ' '), t -> t <> ''))
              / 100.0, 1.0)
  + 0.3 * (1.0 - abs(0.4 - len(list_filter(string_split(text, ' '),
      t -> t IN ('the','a','is','of','and'))) * 1.0 /
      greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)))
  + 0.3 * least((length(text) - length(replace(text, ' ', ''))) * 1.0
      / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1)
      / 10.0, 1.0), 6)"""


@query(
    "q_dedup_best_of_cluster",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, md5(text) AS cluster, {_Q_SQL} AS q
      FROM documents
    ), ranked AS (
      SELECT cluster, doc_id, q,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY q DESC, doc_id) AS rn
      FROM scored
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size,
           min(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
           round(min(CASE WHEN rn = 1 THEN q END), 6) AS kept_quality,
           CAST(count(*) - 1 AS BIGINT) AS dropped
    FROM ranked GROUP BY cluster
    """,
)
def q_dedup_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X505 — dedup SURVIVORSHIP by quality: where X47 keeps the
    lowest-id member of each exact-dup cluster, production corpora
    keep the BEST one (duplicates often differ in extraction quality
    even when the md5-normalized text matches — and under near-dup
    clustering they genuinely differ); survivor = argmax E5-style
    quality, doc_id tiebreak. The same min_by-over-struct survivorship
    X276 applies to CRM golden records, applied to the corpus dedup
    path.

    Scale: one projection pass for the score, one cluster-keyed
    min_by — no window sort; cluster key is the md5 the exact-dedup
    pass already computed."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(
            F.split("text", " "),
            lambda t: t.isin("the", "a", "is", "of", "and"),
        )
    )
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    q = F.round(
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.abs(0.4 - sw * 1.0 / F.greatest(n_tok, F.lit(1))))
        + 0.3
        * F.least(
            spaces * 1.0 / F.greatest(n_tok, F.lit(1)) / 10.0, F.lit(1.0)
        ),
        6,
    )
    scored = d.select(
        "doc_id", F.md5("text").alias("cluster"), q.alias("q")
    )
    return scored.groupBy("cluster").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.min_by(
            "doc_id", F.struct((-F.col("q")).alias("nq"), "doc_id")
        ).alias("kept_doc"),
        F.round(F.max("q"), 6).alias("kept_quality"),
        (F.count("*") - 1).cast("long").alias("dropped"),
    )


# ---------------------------------------------------------------------------
# X506 — group-sequential monitoring (O'Brien-Fleming-shaped boundary)
# ---------------------------------------------------------------------------


@query(
    "q_sequential_boundary",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(user_id % 2 AS INT) AS arm,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT d, arm,
             sum(n) OVER (PARTITION BY arm ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cn,
             sum(s) OVER (PARTITION BY arm ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cs
      FROM daily
    ), wide AS (
      SELECT d,
             max(CASE WHEN arm = 0 THEN cn END) AS n0,
             max(CASE WHEN arm = 0 THEN cs END) AS s0,
             max(CASE WHEN arm = 1 THEN cn END) AS n1,
             max(CASE WHEN arm = 1 THEN cs END) AS s1
      FROM cum GROUP BY d
    ), looks AS (
      SELECT d, n0, n1, s0 * 1.0 / n0 AS p0, s1 * 1.0 / n1 AS p1,
             (s0 + s1) * 1.0 / (n0 + n1) AS pp,
             row_number() OVER (ORDER BY d) AS k,
             count(*) OVER () AS kmax
      FROM wide WHERE n0 > 0 AND n1 > 0
    ), z AS (
      SELECT d, k, kmax,
             (p1 - p0) / sqrt(greatest(
               pp * (1 - pp) * (1.0/n0 + 1.0/n1), 1e-12)) AS zstat,
             1.96 * sqrt(kmax * 1.0 / k) AS boundary
      FROM looks
    )
    SELECT CAST(d AS VARCHAR) AS day, CAST(k AS BIGINT) AS look,
           round(zstat, 6) AS z,
           round(boundary, 6) AS boundary,
           abs(zstat) >= boundary AS crossed
    FROM z
    """,
)
def q_sequential_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X506 — group-sequential experiment monitoring with an
    O'Brien-Fleming-SHAPED boundary: daily looks at the cumulative
    two-proportion z (purchase rate, arms = user hash), each compared
    to c·sqrt(K/k) (c = 1.96) — the spending-function discipline that
    makes daily peeking safe, conservative early and nominal at the
    final look.  The frequentist complement to X423's mSPRT (always-
    valid p); both exist because real platforms run both. Boundary
    shape is the classic OBF approximation; exact spending calibration
    replaces c offline.

    Scale: one daily rollup + per-arm cumulative windows over DAYS
    (bounded domain), then scalar algebra per look."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("d"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("s"),
    )
    wc = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "d",
        "arm",
        F.sum("n").over(wc).alias("cn"),
        F.sum("s").over(wc).alias("cs"),
    )
    wide = cum.groupBy("d").agg(
        F.max(F.when(F.col("arm") == 0, F.col("cn"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("cs"))).alias("s0"),
        F.max(F.when(F.col("arm") == 1, F.col("cn"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("cs"))).alias("s1"),
    ).filter(F.col("n0").isNotNull() & F.col("n1").isNotNull())
    wk = Window.orderBy("d")
    looks = wide.select(
        "d",
        "n0",
        "n1",
        (F.col("s0") * 1.0 / F.col("n0")).alias("p0"),
        (F.col("s1") * 1.0 / F.col("n1")).alias("p1"),
        ((F.col("s0") + F.col("s1")) * 1.0 / (F.col("n0") + F.col("n1"))).alias("pp"),
        F.row_number().over(wk).alias("k"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("kmax"),
    )
    z = (F.col("p1") - F.col("p0")) / F.sqrt(
        F.greatest(
            F.col("pp")
            * (1 - F.col("pp"))
            * (1.0 / F.col("n0") + 1.0 / F.col("n1")),
            F.lit(1e-12),
        )
    )
    boundary = 1.96 * F.sqrt(F.col("kmax") * 1.0 / F.col("k"))
    return looks.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("k").cast("long").alias("look"),
        F.round(z, 6).alias("z"),
        F.round(boundary, 6).alias("boundary"),
        (F.abs(z) >= boundary).alias("crossed"),
    )


# ---------------------------------------------------------------------------
# X507 — shard-assignment balance audit
# ---------------------------------------------------------------------------

_N_SHARDS = 32


@query(
    "q_shard_balance",
    oracle=f"""
    WITH keys AS (
      SELECT o_custkey AS k, count(*) AS wt FROM orders GROUP BY 1
    ), kmax AS (SELECT max(k) AS mx FROM keys),
    assigned AS (
      SELECT 'mod' AS scheme, k % {_N_SHARDS} AS shard, wt FROM keys
      UNION ALL
      SELECT 'hash', {token_hash_sql("CAST(k AS VARCHAR)")} % {_N_SHARDS},
             wt
      FROM keys
      UNION ALL
      SELECT 'range',
             least(CAST(floor(k * {_N_SHARDS}.0 / (mx + 1)) AS BIGINT),
                   {_N_SHARDS - 1}), wt
      FROM keys CROSS JOIN kmax
      UNION ALL
      SELECT 'rendezvous', shard, wt FROM (
        SELECT k, wt, node AS shard,
               row_number() OVER (PARTITION BY k ORDER BY
                 {token_hash_sql(
                     "(CAST(k AS VARCHAR) || '#' || CAST(node AS VARCHAR))"
                 )} DESC, node) AS rn
        FROM keys CROSS JOIN
             (SELECT unnest(range({_N_SHARDS})) AS node))
      WHERE rn = 1
    ), loads AS (
      SELECT scheme, shard, sum(wt) AS load FROM assigned GROUP BY 1, 2
    )
    SELECT scheme, CAST(count(*) AS BIGINT) AS shards_used,
           CAST(max(load) AS BIGINT) AS max_load,
           round(avg(load), 6) AS avg_load,
           round(max(load) / avg(load), 6) AS imbalance,
           round(sqrt(var_pop(load)) / avg(load), 6) AS cv
    FROM loads GROUP BY scheme
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X507 — sharding-scheme balance audit: the same weighted key set
    (customers weighted by order count) assigned by four schemes —
    modulo, portable hash, contiguous range, and X192's rendezvous
    (HRW) — compared on max load, imbalance (max/avg) and CV.  The
    numbers behind the layout advice X497 gives: modulo inherits key-
    space artifacts, range inherits key clustering, hash/HRW flatten
    both, and HRW additionally moves only 1/n of keys when a shard
    joins/leaves (why it shards stateful stream stores).

    Scale: each scheme is a map-side assignment + a 32-row rollup;
    rendezvous evaluates n_shards hashes per key — still map-side,
    broadcast node list."""
    o = load(spark, sf_dir, "orders")
    keys = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("wt")
    )
    kmax = keys.agg(F.max("k").alias("mx"))
    mod = keys.select(
        F.lit("mod").alias("scheme"),
        (F.col("k") % _N_SHARDS).alias("shard"),
        "wt",
    )
    hsh = keys.select(
        F.lit("hash").alias("scheme"),
        (token_hash(F.col("k").cast("string")) % _N_SHARDS).alias("shard"),
        "wt",
    )
    rng = keys.crossJoin(F.broadcast(kmax)).select(
        F.lit("range").alias("scheme"),
        F.least(
            F.floor(F.col("k") * float(_N_SHARDS) / (F.col("mx") + 1))
            .cast("long"),
            F.lit(_N_SHARDS - 1),
        ).alias("shard"),
        "wt",
    )
    nodes = keys.sparkSession.range(_N_SHARDS).select(
        F.col("id").alias("node")
    )
    hrw_h = token_hash(
        F.concat_ws("#", F.col("k").cast("string"), F.col("node").cast("string"))
    )
    hrw = (
        keys.crossJoin(F.broadcast(nodes))
        .select("k", "wt", "node", hrw_h.alias("hh"))
        .groupBy("k")
        .agg(
            F.min("wt").alias("wt"),
            F.min_by(
                "node", F.struct((-F.col("hh")).alias("nh"), "node")
            ).alias("shard"),
        )
        .select(F.lit("rendezvous").alias("scheme"), "shard", "wt")
    )
    assigned = mod.unionByName(hsh).unionByName(rng).unionByName(hrw)
    loads = assigned.groupBy("scheme", "shard").agg(
        F.sum("wt").alias("load")
    )
    return loads.groupBy("scheme").agg(
        F.count("*").cast("long").alias("shards_used"),
        F.max("load").cast("long").alias("max_load"),
        F.round(F.avg("load"), 6).alias("avg_load"),
        F.round(F.max("load") / F.avg("load"), 6).alias("imbalance"),
        F.round(F.sqrt(F.var_pop("load")) / F.avg("load"), 6).alias("cv"),
    )


# ---------------------------------------------------------------------------
# X508 — product quantization (PQ) codebook + codes
# ---------------------------------------------------------------------------

from ..operators import vq  # noqa: E402
from .llm_ext import _sq_dist  # noqa: E402

_PQ_M = 8  # subspaces
_PQ_K = 16  # centroids per subspace (4-bit codes)

# the M 8-dim subvectors and their trained per-subspace codebooks (the
# DuckDB twin of _pq_subs/_pq_encode: ``pcent1`` is the trained
# codebook, ``passign2`` every subvector's code)
_PQ_CTES = f"""
    subs AS (
      SELECT vec_id, m,
             list_transform(embedding[m * 8 + 1 : m * 8 + 8],
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM embeddings CROSS JOIN
           (SELECT unnest(range({_PQ_M})) AS m)
    ), {vq.kmeans_ctes(k=_PQ_K, iters=2, src="subs", vec="sv", key="m",
                       prefix="p")}"""


def _pq_subs(e: DataFrame) -> DataFrame:
    """(vec_id, emb) → (vec_id, m, emb): the M 8-dim subvectors."""
    ms = e.sparkSession.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    return e.crossJoin(F.broadcast(ms)).select(
        "vec_id", "m", F.slice("emb", F.col("m") * 8 + 1, 8).alias("emb")
    )


def _pq_encode(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """PQ training and encoding: each subspace's codebook is trained by
    one Lloyd round (init = the K lowest vec_ids' subvectors) and every
    subvector is coded by its nearest centroid. Returns the codebooks
    folded per ``m`` and the codes ``(vec_id, m, nn)``, ``nn`` being
    vq.nearest's struct (``cid``, ``score`` = the rounded squared
    distance, ``pos`` = the index into the folded codebook)."""
    subs = _pq_subs(e)
    books = vq.fold(vq.lloyd(subs, _PQ_K, iters=2, key="m"), key="m")
    codes = vq.attach(subs, books, "m").select(
        "vec_id", "m", vq.nearest("emb", "l2").alias("nn")
    )
    return books, codes


def _by_m(df: DataFrame, field: Column, name: str) -> DataFrame:
    """(vec_id, m, ...) → (vec_id, name): ``field`` of every subspace,
    as an array in m order."""
    return df.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", field.alias("f")))),
            lambda s: s["f"],
        ).alias(name)
    )


@query(
    "q_pq_codebook",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS pq_code,
           round(sum(dist), 6) AS qerr
    FROM passign2 GROUP BY vec_id
    """,
)
def q_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X508 — product quantization (Jegou et al. 2011, the ANN
    compression standard): the 64-dim embedding splits into M=8
    subvectors; each subspace trains its own K=16 codebook
    (deterministic init = first K vectors' subvectors, one Lloyd
    round) and every vector compresses to an 8-symbol code — 64 floats
    become 8 small ints (4 bits each), the memory step that makes
    billion-vector IVF-PQ indexes fit RAM.  Output: per-vector PQ code
    string + quantization error (the sum of per-subspace residuals —
    the quantity recall tuning trades against compression).
    Complements X50 (scalar int8) and X56 (coarse IVF quantizer):
    coarse centroids route, PQ codes rank.

    Scale: training shuffles (cid, m, dim, partial) triples — never
    raw vectors; assignment is a broadcast of M*K tiny centroids
    against the subvector stream, exactly the IVF discipline per
    subspace; codes are 8 bytes/vector however large the corpus."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    _, codes = _pq_encode(e)
    # qerr folds the 8 rounded distances in m order
    return _by_m(codes, F.col("nn"), "nn").select(
        "vec_id",
        F.array_join(F.col("nn.cid").cast("array<string>"), "-").alias("pq_code"),
        F.round(
            F.aggregate("nn.score", F.lit(0.0), lambda acc, d: acc + d), 6
        ).alias("qerr"),
    )


# ---------------------------------------------------------------------------
# X509 — prefix-sharing audit (inference prefix-cache opportunity)
# ---------------------------------------------------------------------------


@query(
    "q_prefix_sharing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ), pref AS (
      SELECT doc_id, len(tk) AS n_tok,
             array_to_string(tk[1:8], ' ') AS prefix8
      FROM toks WHERE len(tk) >= 8
    ), grp AS (
      SELECT prefix8, count(*) AS n_docs, sum(n_tok) AS toks
      FROM pref GROUP BY prefix8
    )
    SELECT CAST(count(*) AS BIGINT) AS n_prefixes,
           CAST(count(*) FILTER (WHERE n_docs > 1) AS BIGINT)
             AS shared_prefixes,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT)
             AS docs_sharing,
           CAST(sum(CASE WHEN n_docs > 1 THEN (n_docs - 1) * 8 ELSE 0 END)
                AS BIGINT) AS cacheable_tokens,
           round(sum(CASE WHEN n_docs > 1 THEN (n_docs - 1) * 8.0
                          ELSE 0 END) / sum(toks), 6) AS savings_frac
    FROM grp
    """,
)
def q_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X509 — prefix-cache opportunity audit: group documents by their
    first 8 tokens and measure how much prefill compute an
    inference-time prefix cache (automatic prefix caching in modern
    serving stacks) would save on this corpus — every doc after the
    first in a prefix group skips its cached prefix.  High sharing is
    also a TEMPLATE signal for data curation: boilerplate openings
    that X82's quality filters and X398's paragraph dedup should see.

    Scale: one projection to (prefix-key, length), one prefix-keyed
    rollup, one scalar fold — the exact-dedup shape on a truncated
    key."""
    d = load(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    pref = d.select(
        F.size(tk).alias("n_tok"),
        F.array_join(F.slice(tk, 1, 8), " ").alias("prefix8"),
    ).filter(F.col("n_tok") >= 8)
    grp = pref.groupBy("prefix8").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("toks")
    )
    shared = F.col("n_docs") > 1
    return grp.agg(
        F.count("*").cast("long").alias("n_prefixes"),
        F.count(F.when(shared, 1)).cast("long").alias("shared_prefixes"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.when(shared, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("docs_sharing"),
        F.sum(F.when(shared, (F.col("n_docs") - 1) * 8).otherwise(0))
        .cast("long")
        .alias("cacheable_tokens"),
        F.round(
            F.sum(F.when(shared, (F.col("n_docs") - 1) * 8.0).otherwise(0))
            / F.sum("toks"),
            6,
        ).alias("savings_frac"),
    )


# ---------------------------------------------------------------------------
# X510 — composed IVF-PQ search with recall evaluation (the ANN capstone)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_NQ = 10  # benchmark queries: vec_id < 10
_IVFPQ_RERANK = 16  # ADC shortlist size re-ranked with exact distances


@query(
    "q_ivfpq_recall",
    oracle=f"""
    WITH {vq.kmeans_ctes(k=8, iters=2)},
    {_PQ_CTES},
    queries AS (
      SELECT vec_id AS qid FROM embeddings WHERE vec_id < {_IVFPQ_NQ}
    ),
    qprobe AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_aggregate(list_transform(
                   range(len(e.embedding)), i ->
                   pow(CAST(e.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1],
                       2)), 'sum'), 6), c.cid) AS rn
        FROM queries q JOIN embeddings e ON e.vec_id = q.qid
        CROSS JOIN cent1 c)
      WHERE rn <= {_IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT qp.qid, a.vec_id AS cand_id
      FROM qprobe qp JOIN assign2 a ON a.cid = qp.cid
      WHERE a.vec_id <> qp.qid
    ),
    adc AS (
      SELECT c.qid, c.cand_id,
             round(sum(round(list_aggregate(list_transform(range(8),
               i -> pow(qs.sv[i + 1] - pc.cvec[i + 1], 2)), 'sum'), 6)), 6)
               AS adist
      FROM cand c
      JOIN passign2 k ON k.vec_id = c.cand_id
      JOIN pcent1 pc ON pc.cid = k.cid AND pc.m = k.m
      JOIN subs qs ON qs.vec_id = c.qid AND qs.m = k.m
      GROUP BY c.qid, c.cand_id
    ),
    shortlist AS (
      SELECT qid, cand_id FROM (
        SELECT qid, cand_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adist, cand_id) AS rn
        FROM adc) WHERE rn <= {_IVFPQ_RERANK}
    ),
    approx AS (
      SELECT qid, cand_id AS approx_nn FROM (
        SELECT s.qid, s.cand_id,
               row_number() OVER (PARTITION BY s.qid ORDER BY
                 round(list_aggregate(list_transform(range(64), i ->
                   pow(CAST(qe.embedding[i + 1] AS DOUBLE)
                       - CAST(ce.embedding[i + 1] AS DOUBLE), 2)),
                   'sum'), 6), s.cand_id) AS rn
        FROM shortlist s
        JOIN embeddings qe ON qe.vec_id = s.qid
        JOIN embeddings ce ON ce.vec_id = s.cand_id)
      WHERE rn = 1
    ),
    exact AS (
      SELECT qid, vec_id AS exact_nn FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_aggregate(list_transform(range(64), i ->
                   pow(CAST(qe.embedding[i + 1] AS DOUBLE)
                       - CAST(e.embedding[i + 1] AS DOUBLE), 2)),
                   'sum'), 6), e.vec_id) AS rn
        FROM queries q
        JOIN embeddings qe ON qe.vec_id = q.qid
        JOIN embeddings e ON e.vec_id <> q.qid)
      WHERE rn = 1
    )
    SELECT a.qid, a.approx_nn, x.exact_nn,
           a.approx_nn = x.exact_nn AS hit
    FROM approx a JOIN exact x ON a.qid = x.qid
    """,
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X510 — the production ANN stack COMPOSED and measured: IVF-PQ
    with asymmetric distance computation (Jegou et al. 2011 / FAISS
    IVFADC, flat-PQ variant without residual encoding — documented
    simplification).  Coarse k-means (the X56/X266 codebook) routes
    each benchmark query to its nprobe=2 nearest cells; candidates are
    the vectors IN those cells; ranking uses ADC — the candidate's
    8-symbol PQ code (X508) looks up per-subspace centroids and the
    query's exact subvectors measure against them, so candidates never
    load full vectors; the ADC top-16 shortlist is then RE-RANKED with
    exact distances (the FAISS refine stage — full vectors load for 16
    candidates instead of the whole cell).  Approx top-1 vs exact
    top-1 per query = the recall readout (X86 measured recall for
    hyperplane-LSH; this measures the quantized path). On these
    unclustered iid embeddings — PQ's adversarial case — the knobs
    land at nprobe=2 routing recall 10/10 and end-to-end recall@1
    measured by the query itself.

    Scale: routing is broadcast (8 coarse + 8×16 PQ centroids); the
    candidate join is cell-keyed (cluster-bounded like X266); ADC is an
    indexed lookup of a candidate's 8 codes into its query's broadcast
    8×16 distance table, and the per-query argmin is a rank over
    candidates only. This is the memory layout that serves
    billion-vector indexes."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # coarse k-means (k=8, one Lloyd round) routes; PQ codes rank
    coarse = vq.fold(vq.lloyd(e, 8, iters=2))
    assigned = vq.attach(e, coarse).select(
        "vec_id", vq.nearest("emb", "l2").cid.alias("cid")
    )
    books, codes = _pq_encode(e)
    pcodes = _by_m(codes, F.col("nn.pos"), "codes")

    queries = e.filter(F.col("vec_id") < _IVFPQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
    )
    qprobe = vq.attach(queries, coarse).select(
        "qid",
        "qemb",
        F.explode(vq.nearest("qemb", "l2", _IVFPQ_NPROBE).cid).alias("cid"),
    )
    cand = (
        F.broadcast(qprobe)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qemb", F.col("vec_id").alias("cand_id"))
    )
    # ADC: each query's table of rounded distances from its subvector m
    # to every centroid of subspace m; a candidate's distance is its
    # codes' entries of those tables, summed in m order
    tables = _by_m(
        vq.attach(
            _pq_subs(e.filter(F.col("vec_id") < _IVFPQ_NQ)), books, "m"
        ).select("vec_id", "m", vq.distances("emb", "l2").alias("d")),
        F.col("d"),
        "tables",
    ).withColumnRenamed("vec_id", "qid")
    adc = (
        cand.join(F.broadcast(tables), "qid")
        .join(pcodes, cand.cand_id == pcodes.vec_id)
        .select(
            "qid",
            "cand_id",
            F.expr(
                "round(aggregate(zip_with(tables, codes, "
                "(t, c) -> element_at(t, c)), 0D, (acc, v) -> acc + v), 6)"
            ).alias("adist"),
        )
    )
    wa = Window.partitionBy("qid").orderBy("adist", "cand_id")
    shortlist = (
        adc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= _IVFPQ_RERANK)
        .select("qid", "cand_id")
    )
    cvecs = e.select(F.col("vec_id").alias("cv_id"), F.col("emb").alias("cemb"))
    refine = (
        shortlist.join(queries, "qid")
        .join(cvecs, shortlist.cand_id == cvecs.cv_id)
        .select(
            "qid",
            "cand_id",
            F.round(_sq_dist(F.col("qemb"), F.col("cemb")), 6).alias("rd"),
        )
    )
    wr = Window.partitionBy("qid").orderBy("rd", "cand_id")
    approx = (
        refine.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("cand_id").alias("approx_nn"))
    )
    others = e.select(F.col("vec_id").alias("oid"), F.col("emb").alias("oemb"))
    ex = (
        queries.crossJoin(others)
        .filter(F.col("oid") != F.col("qid"))
        .select(
            "qid",
            "oid",
            F.round(_sq_dist(F.col("qemb"), F.col("oemb")), 6).alias("d"),
        )
    )
    we = Window.partitionBy("qid").orderBy("d", "oid")
    exact = (
        ex.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("oid").alias("exact_nn"))
    )
    return approx.join(exact, "qid").select(
        "qid",
        "approx_nn",
        "exact_nn",
        (F.col("approx_nn") == F.col("exact_nn")).alias("hit"),
    )


# ---------------------------------------------------------------------------
# X514 — small-file compaction plan (next-fit bin packing)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 65536  # target output size (bytes) at this toy scale


@query(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT CAST(floor(event_id / 256) AS BIGINT) AS file_id,
             count(*) * 60 AS bytes
      FROM events GROUP BY 1
    ), cum AS (
      SELECT file_id, bytes,
             coalesce(sum(bytes) OVER (ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM files
    ), binned AS (
      SELECT file_id, bytes,
             CAST(floor(cum_prev / {_COMPACT_TARGET}) AS BIGINT) AS bin
      FROM cum
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           min(file_id) AS first_file, max(file_id) AS last_file,
           round(sum(bytes) * 1.0 / {_COMPACT_TARGET}, 6) AS fill_ratio
    FROM binned GROUP BY bin
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X514 — compaction PLANNING as a query: the X489 file inventory
    next-fit-packed into target-size output bins (bin = floor of the
    EXCLUSIVE running byte sum / target — write-order preserving, so
    compaction never destroys the time clustering that X489 showed
    makes zone maps work).  Output: per planned output file, its input
    span and fill ratio — the plan X149's rewrite step executes.
    Next-fit over write order is the standard table-maintenance choice
    (FFD packs tighter but shuffles time ranges together).

    Scale: one running-sum window over the FILE inventory (metadata-
    sized, not data-sized); at 100 TB this is the manifest scan every
    OPTIMIZE implementation does."""
    e = load(spark, sf_dir, "events")
    files = e.groupBy(
        F.floor(F.col("event_id") / 256).cast("long").alias("file_id")
    ).agg((F.count("*") * 60).alias("bytes"))
    w = Window.orderBy("file_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binned = files.select(
        "file_id",
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0)) / _COMPACT_TARGET
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
        F.round(F.sum("bytes") * 1.0 / _COMPACT_TARGET, 6).alias(
            "fill_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# X515 — join-order cost audit from key histograms
# ---------------------------------------------------------------------------


@query(
    "q_join_order_costs",
    oracle="""
    WITH lo AS (
      SELECT CAST(sum(cl * co) AS BIGINT) AS sz FROM (
        SELECT l.k, cl, co FROM
          (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
           GROUP BY 1) l
        JOIN (SELECT o_orderkey AS k, count(*) AS co FROM orders
              GROUP BY 1) o ON l.k = o.k)
    ), oc AS (
      SELECT CAST(sum(co * cc) AS BIGINT) AS sz FROM (
        SELECT o.k, co, cc FROM
          (SELECT o_custkey AS k, count(*) AS co FROM orders
           GROUP BY 1) o
        JOIN (SELECT c_custkey AS k, count(*) AS cc FROM customer
              GROUP BY 1) c ON o.k = c.k)
    ), sizes AS (
      SELECT (SELECT count(*) FROM lineitem) AS n_l,
             (SELECT count(*) FROM orders) AS n_o,
             (SELECT count(*) FROM customer) AS n_c,
             (SELECT sz FROM lo) AS n_lo,
             (SELECT sz FROM oc) AS n_oc
    )
    SELECT 'lineitem_first' AS plan,
           CAST(n_l + n_o AS BIGINT) AS stage1_input_rows,
           n_lo AS stage1_output_rows,
           CAST(n_lo + n_c AS BIGINT) AS stage2_input_rows,
           CAST(n_l + n_o + n_lo + n_c AS BIGINT) AS total_shuffled_rows
    FROM sizes
    UNION ALL
    SELECT 'customer_first',
           CAST(n_o + n_c AS BIGINT), n_oc,
           CAST(n_oc + n_l AS BIGINT),
           CAST(n_o + n_c + n_oc + n_l AS BIGINT)
    FROM sizes
    """,
)
def q_join_order_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X515 — cost-based join ordering made visible: for the 3-table
    chain lineitem ⋈ orders ⋈ customer, estimate both orders'
    intermediate sizes EXACTLY from per-key histograms
    (|A ⋈ B| = Σ_k cA(k)·cB(k) — the product-of-frequencies identity
    a CBO approximates with NDV/MCV sketches) and total rows pushed
    through shuffles.  The engine normally lets Catalyst+AQE pick;
    this query is the audit for when a user needs to SEE why one order
    wins before forcing a hint (X309) — and the X405 sketch estimator's
    exact twin.

    Scale: key histograms are grouped counts (map-combinable); the
    Σ c·c fold joins histogram tables, never fact tables."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")

    def hist(df, key):
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").alias("c")
        )

    hl = hist(li, "l_orderkey")
    ho_ok = hist(o, "o_orderkey")
    ho_ck = hist(o, "o_custkey")
    hc = hist(c, "c_custkey")
    n_lo = (
        hl.join(ho_ok, "k")
        .agg(F.sum(hl.c * ho_ok.c).alias("sz"))
    )
    n_oc = (
        ho_ck.join(hc, "k")
        .agg(F.sum(ho_ck.c * hc.c).alias("sz"))
    )
    counts = (
        li.agg(F.count("*").alias("n_l"))
        .crossJoin(o.agg(F.count("*").alias("n_o")))
        .crossJoin(c.agg(F.count("*").alias("n_c")))
        .crossJoin(n_lo.select(F.col("sz").alias("n_lo")))
        .crossJoin(n_oc.select(F.col("sz").alias("n_oc")))
    )
    a = counts.select(
        F.lit("lineitem_first").alias("plan"),
        (F.col("n_l") + F.col("n_o")).cast("long").alias(
            "stage1_input_rows"
        ),
        F.col("n_lo").cast("long").alias("stage1_output_rows"),
        (F.col("n_lo") + F.col("n_c")).cast("long").alias(
            "stage2_input_rows"
        ),
        (F.col("n_l") + F.col("n_o") + F.col("n_lo") + F.col("n_c"))
        .cast("long")
        .alias("total_shuffled_rows"),
    )
    b = counts.select(
        F.lit("customer_first").alias("plan"),
        (F.col("n_o") + F.col("n_c")).cast("long"),
        F.col("n_oc").cast("long"),
        (F.col("n_oc") + F.col("n_l")).cast("long"),
        (F.col("n_o") + F.col("n_c") + F.col("n_oc") + F.col("n_l"))
        .cast("long"),
    )
    return a.unionByName(b.toDF(*a.columns))


# ---------------------------------------------------------------------------
# X517 — progressive JPEG under the value-hash gate
# ---------------------------------------------------------------------------


@query("q_jpeg_progressive", oracle=_image_phash_oracle())
def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X517 — PROGRESSIVE JPEG (SOF2) under the gate: the X483
    pipeline with the container swapped to a multi-scan progressive
    stream — DC-first at Al=1, per-component AC spectral bands, and a
    DC successive-approximation refinement scan delivering the
    held-back low bit.  The decoder accumulates coefficients across
    scans (general EOBRUN handling included) and reconstructs once;
    the same constant-block exactness contract applies, so the
    arithmetic aHash oracle gates the full multi-scan entropy decode.
    The encoder emits the libjpeg default-script shape WITH AC
    successive approximation (bands appear at Al=2/1 and sharpen
    through two refinement rounds); pytest additionally pins
    progressive-decode ≡ baseline-decode on identical quantized
    coefficients at lossy quality, including the refinement passes.
    The remaining JPEG boundary is arithmetic coding / hierarchical /
    12-bit (operators/jpeg.py)."""
    from ..operators.jpeg import encode_jpeg_progressive
    from ..operators.multimodal import perceptual_hash

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
                rgb = b"".join(
                    bytes((g, g, g)) * 8 for g in
                    (int(v) for row in range(8) for _ in range(8)
                     for v in vals[row * 8 : row * 8 + 8])
                )
                payloads.append(
                    encode_jpeg_progressive(
                        64, 64, rgb, quality=100, subsampling="4:2:0",
                        successive=True,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    imgs = quant.mapInPandas(build, schema="doc_id long, payload binary")
    return perceptual_hash(imgs).select(
        F.col("doc_id").alias("vec_id"), "phash"
    )


# ---------------------------------------------------------------------------
# X518 — unified multimodal training manifest
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_manifest",
    oracle=f"""
    WITH txt AS (
      SELECT doc_id, md5(text) AS content_md5,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tok,
             {_Q_SQL} AS quality
      FROM documents
    ), dups AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY content_md5
                                ORDER BY doc_id) > 1 AS is_dup
      FROM txt
    ), img AS (
      SELECT vec_id, {_phash_arith_sql(False)} AS phash FROM embeddings
    ), aud AS (
      SELECT vec_id,
             round(sqrt(list_aggregate(list_transform(
               list_transform(embedding, e -> CAST(least(greatest(
                 round(CAST(e AS DOUBLE) * 32767.0::DOUBLE, 0), -32768.0),
                 32767.0) AS BIGINT)), x -> CAST(x * x AS DOUBLE)), 'sum')
               / len(embedding)), 6) AS audio_rms
      FROM embeddings
    )
    SELECT t.doc_id, t.n_tok, t.quality, d.is_dup,
           i.phash, a.audio_rms,
           t.quality >= 0.5 AND NOT d.is_dup AS keep
    FROM txt t
    JOIN dups d ON d.doc_id = t.doc_id
    LEFT JOIN img i ON i.vec_id = t.doc_id
    LEFT JOIN aud a ON a.vec_id = t.doc_id
    """,
)
def q_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X518 — the UNIFIED multimodal manifest: one row per training
    document carrying every modality's curation signal — text quality
    (E5 blend) and exact-dup flag, the image perceptual hash from the
    REAL JPEG encode→decode path (X483), and the audio RMS from the
    REAL WAV round-trip (X495) — plus the composed keep decision.
    This is the table a multimodal corpus build actually materializes:
    downstream samplers read one manifest, not four pipelines.  The
    oracle recomputes every signal arithmetically, so the gate pins
    the full composition including both codec paths.

    Scale: text metrics are a projection; the dup flag is one
    md5-keyed window; image/audio are the zero-shuffle Arrow codec
    hops; final assembly is two id-keyed joins (broadcast-able when
    the modality sides are sparse — LEFT joins keep text-only docs)."""
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import decode_wav, encode_wav, perceptual_hash

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(
            F.split("text", " "),
            lambda t: t.isin("the", "a", "is", "of", "and"),
        )
    )
    spaces = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    q = F.round(
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.abs(0.4 - sw * 1.0 / F.greatest(n_tok, F.lit(1))))
        + 0.3
        * F.least(
            spaces * 1.0 / F.greatest(n_tok, F.lit(1)) / 10.0, F.lit(1.0)
        ),
        6,
    )
    txt = d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        n_tok.alias("n_tok"),
        q.alias("quality"),
    )
    wdup = Window.partitionBy("content_md5").orderBy("doc_id")
    dups = txt.select(
        "doc_id", (F.row_number().over(wdup) > 1).alias("is_dup")
    )

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

    def build_jpeg(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for vals in pdf["px"]:
                rgb = b"".join(
                    bytes((g, g, g)) * 8 for g in
                    (int(v) for row in range(8) for _ in range(8)
                     for v in vals[row * 8 : row * 8 + 8])
                )
                payloads.append(encode_jpeg(64, 64, rgb, quality=100))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    img = perceptual_hash(
        quant.mapInPandas(build_jpeg, schema="doc_id long, payload binary")
    ).select(F.col("doc_id").alias("img_id"), "phash")

    smp = F.transform(
        F.col("embedding"),
        lambda v: F.least(
            F.greatest(
                F.round(v.cast("double") * F.lit(32767.0), 0),
                F.lit(-32768.0),
            ),
            F.lit(32767.0),
        ).cast("bigint"),
    )
    aquant = emb.select(F.col("vec_id").alias("aud_id"), smp.alias("smp"))

    def wav_rms(batches):
        import math

        import pandas as pd

        for pdf in batches:
            out = {"aud_id": [], "audio_rms": []}
            for aid, s in zip(pdf["aud_id"], pdf["smp"]):
                payload = encode_wav([int(x) for x in s], sample_rate=8000)
                _r, _c, samples = decode_wav(payload)
                out["aud_id"].append(aid)
                out["audio_rms"].append(
                    round(
                        math.sqrt(
                            sum(float(x) * x for x in samples)
                            / len(samples)
                        ),
                        6,
                    )
                )
            yield pd.DataFrame(out)

    aud = aquant.mapInPandas(wav_rms, schema="aud_id long, audio_rms double")

    return (
        txt.join(dups, "doc_id")
        .join(img, txt.doc_id == img.img_id, "left")
        .join(aud, txt.doc_id == aud.aud_id, "left")
        .select(
            "doc_id",
            "n_tok",
            "quality",
            "is_dup",
            "phash",
            "audio_rms",
            ((F.col("quality") >= 0.5) & ~F.col("is_dup")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# X520 — Motion-JPEG video pipeline under the value-hash gate
# ---------------------------------------------------------------------------


@query(
    "q_mjpeg_frames",
    oracle=f"""
    SELECT vec_id, 0 AS frame_idx, {_phash_arith_sql(False)} AS phash
    FROM embeddings
    UNION ALL
    SELECT vec_id, 1, {_phash_arith_sql(True)} FROM embeddings
    """,
)
def q_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X520 — COMPRESSED video under the gate: each embedding renders
    as a 2-frame Motion-JPEG AVI (frame 0 = the constant-block image,
    frame 1 = its +1 twin — 'consecutive frames of a nearly-static
    camera'), every frame a standalone baseline JPEG inside '00dc'
    chunks; the decoder walks the RIFF container, decodes each frame
    through the full entropy-coded JPEG path, and aHashes it.  The
    oracle recomputes both frame hashes arithmetically, so a match
    proves container walk + per-frame codec + hash end to end.  This
    moves the video boundary from 'any compressed codec' to genuinely
    inter-frame ones (H.264/VP9 prediction needs ffmpeg); MJPEG is
    what webcams/capture cards actually emit.

    Scale shape: X268's — Arrow-batched mapInPandas, no shuffle,
    (id, frame, 8-byte hash) rows out."""
    from ..operators.multimodal import (
        ahash64,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

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

    def roundtrip(batches):
        import pandas as pd

        for pdf in batches:
            out = {"vec_id": [], "frame_idx": [], "phash": []}
            for vid, vals in zip(pdf["vec_id"], pdf["px"]):
                levels = [int(v) for v in vals]

                def frame(vs):
                    return b"".join(
                        bytes((g, g, g)) * 8
                        for g in (
                            v
                            for row in range(8)
                            for _ in range(8)
                            for v in vs[row * 8 : row * 8 + 8]
                        )
                    )

                twin = [min(levels[0] + 1, 255)] + levels[1:]
                payload = encode_avi_mjpeg(
                    64, 64, [frame(levels), frame(twin)], quality=100
                )
                _w, _h, frames = decode_avi_frames(payload)
                for i, f in enumerate(frames):
                    out["vec_id"].append(vid)
                    out["frame_idx"].append(i)
                    out["phash"].append(ahash64(64, 64, f))
            yield pd.DataFrame(out)

    return quant.mapInPandas(
        roundtrip, schema="vec_id long, frame_idx int, phash long"
    )


# ---------------------------------------------------------------------------
# X521 — frame-motion audit (perceptual deltas between consecutive frames)
# ---------------------------------------------------------------------------


@query(
    "q_frame_motion",
    oracle=f"""
    WITH h AS (
      SELECT vec_id, {_phash_arith_sql(False)} AS h0,
             {_phash_arith_sql(True)} AS h1
      FROM embeddings
    )
    SELECT vec_id,
           CAST(bit_count(xor(h0, h1)) AS BIGINT) AS motion_bits,
           bit_count(xor(h0, h1)) = 0 AS static_scene,
           bit_count(xor(h0, h1)) >= 16 AS scene_cut
    FROM h
    """,
)
def q_frame_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X521 — video MOTION audit from perceptual frame deltas: the
    hamming distance between consecutive frames' aHashes (computed
    through the full X520 MJPEG decode) classifies each clip as
    static (delta 0 — dedup candidate / dead air), normal motion, or
    a scene cut (delta >= 16 — the shot-boundary heuristic keyframe
    samplers key on).  This is how a 100 TB video corpus picks WHICH
    frames to caption: sample densely at cuts, sparsely in static
    spans (X94's stride sampler takes this as its rate signal).

    Scale: rides the X520 decode (no extra shuffle); per-clip state is
    two 8-byte hashes regardless of resolution."""
    from ..operators.multimodal import (
        ahash64,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

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

    def motion(batches):
        import pandas as pd

        for pdf in batches:
            out = {"vec_id": [], "motion_bits": []}
            for vid, vals in zip(pdf["vec_id"], pdf["px"]):
                levels = [int(v) for v in vals]

                def frame(vs):
                    return b"".join(
                        bytes((g, g, g)) * 8
                        for g in (
                            v
                            for row in range(8)
                            for _ in range(8)
                            for v in vs[row * 8 : row * 8 + 8]
                        )
                    )

                twin = [min(levels[0] + 1, 255)] + levels[1:]
                payload = encode_avi_mjpeg(
                    64, 64, [frame(levels), frame(twin)], quality=100
                )
                _w, _h, frames = decode_avi_frames(payload)
                h0 = ahash64(64, 64, frames[0])
                h1 = ahash64(64, 64, frames[1])
                out["vec_id"].append(vid)
                out["motion_bits"].append(bin((h0 ^ h1) & ((1 << 64) - 1)).count("1"))
            yield pd.DataFrame(out)

    m = quant.mapInPandas(motion, schema="vec_id long, motion_bits long")
    return m.select(
        "vec_id",
        "motion_bits",
        (F.col("motion_bits") == 0).alias("static_scene"),
        (F.col("motion_bits") >= 16).alias("scene_cut"),
    )


# ---------------------------------------------------------------------------
# X522 — audio silence / activity segmentation
# ---------------------------------------------------------------------------


@query(
    "q_audio_silence",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, e -> CAST(least(greatest(
               round(CAST(e AS DOUBLE) * 32767.0::DOUBLE, 0), -32768.0),
               32767.0) AS BIGINT)) AS smp
      FROM embeddings
    ), flags AS (
      SELECT vec_id, len(smp) AS n,
             list_transform(smp, x -> CASE WHEN abs(x) < 3277
                                           THEN 1 ELSE 0 END) AS quiet
      FROM s
    ), runs AS (
      SELECT vec_id, n, quiet,
             list_aggregate(quiet, 'sum') AS n_quiet
      FROM flags
    ), longest AS (
      SELECT vec_id, n, n_quiet,
             list_aggregate(
               list_transform(range(1, n + 1), i ->
                 CASE WHEN quiet[i] = 0 THEN 0
                      ELSE i - coalesce(list_max(list_filter(
                             range(1, i + 1), j -> quiet[j] = 0)), 0)
                 END), 'max') AS longest_quiet
      FROM runs
    )
    SELECT vec_id, CAST(n_quiet AS BIGINT) AS quiet_samples,
           round(n_quiet * 1.0 / n, 6) AS quiet_frac,
           CAST(coalesce(longest_quiet, 0) AS BIGINT) AS longest_quiet_run,
           n_quiet * 1.0 / n >= 0.5 AS mostly_silent
    FROM longest
    """,
)
def q_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X522 — silence/activity segmentation over the REAL decoded PCM
    stream (X495's WAV round-trip): per clip, the quiet-sample
    fraction (|amplitude| under 10% full scale) and the LONGEST
    contiguous quiet run — a gaps-and-islands fold over the sample
    axis, the audio-curation screen that drops dead-air clips and
    locates trim points before transcription.  The longest-run
    spelling is position − last-loud-position, maxed — the same
    islands identity X71 uses on event time, applied inside an array.

    Scale: one Arrow decode hop + per-clip array folds; nothing
    leaves the executor but four scalars per clip."""
    import math  # noqa: F401  (parity with the audio pipeline imports)

    from ..operators.multimodal import decode_wav, encode_wav

    emb = load(spark, sf_dir, "embeddings").repartition(
        default_parallelism()
    )
    smp = F.transform(
        F.col("embedding"),
        lambda v: F.least(
            F.greatest(
                F.round(v.cast("double") * F.lit(32767.0), 0),
                F.lit(-32768.0),
            ),
            F.lit(32767.0),
        ).cast("bigint"),
    )
    quant = emb.select("vec_id", smp.alias("smp"))

    def seg(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "vec_id": [], "quiet_samples": [], "quiet_frac": [],
                "longest_quiet_run": [],
            }
            for vid, s in zip(pdf["vec_id"], pdf["smp"]):
                payload = encode_wav([int(x) for x in s], sample_rate=8000)
                _r, _c, samples = decode_wav(payload)
                quiet = [1 if abs(x) < 3277 else 0 for x in samples]
                n_quiet = sum(quiet)
                longest = run = 0
                for qf in quiet:
                    run = run + 1 if qf else 0
                    longest = max(longest, run)
                out["vec_id"].append(vid)
                out["quiet_samples"].append(n_quiet)
                out["quiet_frac"].append(round(n_quiet / len(samples), 6))
                out["longest_quiet_run"].append(longest)
            yield pd.DataFrame(out)

    m = quant.mapInPandas(
        seg,
        schema="vec_id long, quiet_samples long, quiet_frac double, "
        "longest_quiet_run long",
    )
    return m.select(
        "vec_id",
        "quiet_samples",
        "quiet_frac",
        "longest_quiet_run",
        (F.col("quiet_frac") >= 0.5).alias("mostly_silent"),
    )
