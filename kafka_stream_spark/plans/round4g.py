"""Round-4 breadth, part G: T5-style span-corruption mask generation
and tokenizer-with-offsets — the two remaining data-prep shapes between
a cleaned corpus and actual training batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X316 — span corruption (T5 denoising masks)
# ---------------------------------------------------------------------------

#: a span of _SPAN_LEN tokens starts wherever hash(doc, pos) % _SPAN_MOD
#: == 0 → ~ _SPAN_LEN/_SPAN_MOD of tokens masked (15% at 3/20)
_SPAN_LEN, _SPAN_MOD = 3, 20


@query(
    "q_span_corruption",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS tok,
             generate_subscripts(list_filter(string_split(text, ' '),
                                             t -> t <> ''), 1) - 1 AS pos
      FROM documents WHERE doc_id % 5 = 0
    ), flagged AS (
      SELECT doc_id, pos,
             ({hashing.token_hash_sql(
                 "doc_id || ':' || greatest(pos - 2, 0)")} % {_SPAN_MOD} = 0
              OR {hashing.token_hash_sql(
                 "doc_id || ':' || greatest(pos - 1, 0)")} % {_SPAN_MOD} = 0
              OR {hashing.token_hash_sql(
                 "doc_id || ':' || pos")} % {_SPAN_MOD} = 0) AS masked
      FROM toks
    ), islands AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id, masked
                                      ORDER BY pos) AS grp
      FROM flagged WHERE masked
    ), spans AS (
      SELECT doc_id, grp, min(pos) AS span_start,
             count(*) AS span_len
      FROM islands GROUP BY doc_id, grp
    ), numbered AS (
      SELECT doc_id, span_start, CAST(span_len AS BIGINT) AS span_len,
             row_number() OVER (PARTITION BY doc_id ORDER BY span_start)
               AS sentinel_id
      FROM spans
    ), totals AS (
      SELECT doc_id, count(*) AS n_tok,
             sum(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked
      FROM flagged GROUP BY doc_id
    )
    SELECT n.doc_id, n.sentinel_id, n.span_start, n.span_len,
           round(t.n_masked * 1.0 / t.n_tok, 6) AS frac_masked
    FROM numbered n JOIN totals t ON t.doc_id = n.doc_id
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X316 — T5-style span corruption (Raffel et al. 2020 §3.1.4):
    deterministic denoising masks — a position starts a 3-token span
    wherever hash(doc, pos) % 20 == 0 (~15% corruption rate, the T5
    default), overlapping spans merge into islands, and each doc's
    spans get sequential sentinel ids — exactly the
    (<extra_id_0>, ...) structure the trainer consumes, emitted as
    (doc, sentinel, start, len) lineage plus the realized mask rate.
    The per-token mask flag is a pure map expression (OR of 3 hash
    tests — no sequential scan), islands are one gaps-and-islands
    window per doc, so the whole generator is shuffle-light and
    reproducible across runs/engines — the property that makes
    deterministic data ordering + masking auditable at 100 TB."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("pos", "tok"),
    )

    def start_hash(off: int):
        key = F.concat_ws(
            ":",
            F.col("doc_id"),
            F.greatest(F.col("pos") - off, F.lit(0)),
        )
        return hashing.token_hash(key) % _SPAN_MOD == 0

    masked = start_hash(2) | start_hash(1) | start_hash(0)
    flagged = toks.select("doc_id", "pos", masked.alias("masked"))
    w_isl = Window.partitionBy("doc_id", "masked").orderBy("pos")
    islands = (
        flagged.filter("masked")
        .withColumn("grp", F.col("pos") - F.row_number().over(w_isl))
    )
    spans = islands.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        F.count("*").cast("long").alias("span_len"),
    )
    w_num = Window.partitionBy("doc_id").orderBy("span_start")
    numbered = spans.withColumn(
        "sentinel_id", F.row_number().over(w_num)
    )
    totals = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        F.sum(F.col("masked").cast("long")).alias("n_masked"),
    )
    return (
        numbered.join(totals, "doc_id")
        .select(
            "doc_id",
            "sentinel_id",
            "span_start",
            "span_len",
            F.round(F.col("n_masked") * 1.0 / F.col("n_tok"), 6).alias(
                "frac_masked"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X317 — tokenizer with character offsets
# ---------------------------------------------------------------------------


@query(
    "q_token_offsets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents WHERE doc_id % 25 = 0
    ), offs AS (
      SELECT doc_id, pos, tok,
             CAST(COALESCE(sum(length(tok) + 1) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_off
      FROM toks
    )
    SELECT doc_id, pos, tok, start_off,
           start_off + length(tok) AS end_off
    FROM offs WHERE tok <> ''
    """,
)
def q_token_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X317 — tokenization WITH character offsets: each token carries
    its [start, end) character span in the source text (start = running
    sum of preceding token lengths + separators) — the alignment map
    that NER labeling, PII span redaction (X132 needs it to map regex
    hits back), and chunk-lineage (X33) all consume. Offsets come from
    one per-doc cumulative window over the exploded tokens — no
    re-scanning the string per token (the quadratic instr() spelling).
    Empty tokens (split artifacts of double spaces) are dropped AFTER
    offset assignment so spans still address the original text."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = toks.withColumn(
        "start_off",
        F.coalesce(F.sum(F.length("tok") + 1).over(w), F.lit(0)).cast(
            "long"
        ),
    )
    return offs.filter(F.col("tok") != "").select(
        "doc_id",
        "pos",
        "tok",
        "start_off",
        (F.col("start_off") + F.length("tok")).alias("end_off"),
    )


# ---------------------------------------------------------------------------
# X320 — cross-source duplication matrix
# ---------------------------------------------------------------------------


@query(
    "q_cross_source_dups",
    oracle="""
    WITH hs AS (
      SELECT DISTINCT
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h,
             source
      FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           count(*) AS n_shared
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X320 — cross-source duplication matrix: how many distinct
    content fingerprints (first-8-token prefix hash — the near-dup
    blocking key; exact full-text hash is the same plan with md5(text))
    each PAIR of sources shares — the
    dataset-card drill-down that tells you which crawls/mirrors overlap
    before you weight them independently in the mixture (double-counted
    strata silently re-weight X229's temperatures). Hash-distinct per
    source first, then a hash-keyed self-join: text never joins, only
    16-byte keys; at 100 TB this is the same shuffle as exact dedup
    plus one key-join."""
    d = load(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
    hs = d.select(F.md5(prefix).alias("h"), "source").distinct()
    a = hs.select(F.col("h"), F.col("source").alias("src_a"))
    b = hs.select(F.col("h").alias("hb"), F.col("source").alias("src_b"))
    return (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# X321 — document↔embedding coverage audit
# ---------------------------------------------------------------------------


@query(
    "q_embedding_coverage",
    oracle="""
    WITH d AS (SELECT doc_id FROM documents),
    e AS (SELECT DISTINCT vec_id FROM embeddings)
    SELECT (SELECT count(*) FROM d) AS n_docs,
           (SELECT count(*) FROM e) AS n_vectors,
           (SELECT count(*) FROM d JOIN e ON e.vec_id = d.doc_id)
             AS n_covered,
           (SELECT count(*) FROM d LEFT JOIN e ON e.vec_id = d.doc_id
            WHERE e.vec_id IS NULL) AS n_docs_without_vec,
           (SELECT count(*) FROM e LEFT JOIN d ON d.doc_id = e.vec_id
            WHERE d.doc_id IS NULL) AS n_orphan_vecs
    """,
)
def q_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321 — document↔embedding coverage audit: before any
    embedding-driven stage (X266 semantic dedup, E3 search, X107 MMR)
    can claim corpus coverage, every doc needs a vector and every
    vector a doc — the cross-table completeness check the X128 FK
    audit runs for the relational tables, applied to the ML pair. Two
    key-only semi/anti joins folded into one summary row."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    e = load(spark, sf_dir, "embeddings").select("vec_id").distinct()
    n_docs = d.count()
    n_vecs = e.count()
    covered = d.join(e, d.doc_id == e.vec_id, "left_semi").count()
    missing = d.join(e, d.doc_id == e.vec_id, "left_anti").count()
    orphans = e.join(d, e.vec_id == d.doc_id, "left_anti").count()
    # scalar counts assembled driver-side: this is a 5-number audit
    # summary (each count is a distributed job; the collect is O(1))
    return local_frame(
        spark,
        [(n_docs, n_vecs, covered, missing, orphans)],
        "n_docs long, n_vectors long, n_covered long, "
        "n_docs_without_vec long, n_orphan_vecs long",
    )
