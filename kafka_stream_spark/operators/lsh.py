"""MinHash-LSH near-duplicate core: the one place the dedup chain is
written. shingle → 32-slot minhash → band keys → band-bucket candidate
join → exact set-overlap verify.

Four primitives serve every batch query (q_near_dedup and its family)
and both streaming near-dup stores:

- :func:`shingle_sets` — ``(doc_id, *keep, hs)`` distinct 3-gram hashes;
- :func:`overlap` / :func:`jaccard` / :func:`containment` — set overlap
  of two ``hs`` columns, the ratios rounded to 6 places as the DuckDB
  oracles round them;
- :func:`band_rows` — one ``(doc_id, band_key, *carry)`` row per band;
- :func:`candidates` — the band-key equi-join, batch or incremental.

:func:`candidate_ctes` and :func:`minhash_cte_chain` are the DuckDB
twins of the batch chain that the oracles share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing, text


def shingle_sets(df: DataFrame, *keep: str) -> DataFrame:
    """``(doc_id, *keep, hs)``: each document's distinct shingle hashes.

    Two selects so token hashing runs once per token (``th`` is a
    materialized column, not a repeated subexpression). Callers decide
    whether to persist: a set that feeds several plan branches should
    be hashed once."""
    return df.select(
        "doc_id",
        *keep,
        text.hashed_tokens_mod(F.col("text")).alias("th"),
        text.tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        *keep,
        F.array_distinct(
            text.shingle_hashes(F.col("th"), F.col("toks"))
        ).alias("hs"),
    )


def overlap(a: str, b: str) -> Column:
    """|A ∩ B| of two distinct-element array columns."""
    return F.size(F.filter(F.col(a), lambda v: F.array_contains(F.col(b), v)))


def jaccard(a: str, b: str) -> Column:
    """|A ∩ B| / |A ∪ B|, rounded to 6 places."""
    inter = overlap(a, b)
    return F.round(inter * F.lit(1.0) / (F.size(a) + F.size(b) - inter), 6)


def containment(a: str, b: str) -> Column:
    """|A ∩ B| / min(|A|, |B|), rounded to 6 places."""
    return F.round(
        overlap(a, b) * F.lit(1.0) / F.least(F.size(a), F.size(b)), 6
    )


def band_rows(
    h: DataFrame,
    *carry: str,
    bands: int = hashing.MINHASH_BANDS,
    rows: int = hashing.MINHASH_ROWS,
) -> DataFrame:
    """``(doc_id, band_key, *carry)``: one row per LSH band of each
    document's minhash signature. The signature is computed from ``hs``
    unless ``h`` already carries it as ``sig`` (a sweep over several
    band layouts signs the corpus once)."""
    s = (
        h
        if "sig" in h.columns
        else h.withColumn("sig", hashing.minhash_signature("hs"))
    )
    return s.select(
        "doc_id",
        F.explode(hashing.band_keys("sig", bands, rows)).alias("band_key"),
        *carry,
    )


def candidates(new: DataFrame, prior: DataFrame | None = None) -> DataFrame:
    """Distinct ``(doc_a, doc_b, <c>_a, <c>_b)`` pairs of documents that
    share a band key, for every carried column ``c`` of :func:`band_rows`.

    Without ``prior`` this is the batch self-join on doc_a < doc_b, so
    each pair appears once. With ``prior`` (band rows of documents seen
    in earlier batches) it adds ``prior ⋈ new`` on doc_a != doc_b:
    ``doc_b`` is then always the document of ``new``, whatever the two
    ids, and a pair is found in the batch where its later-arriving
    document lands. ``prior`` is scanned once."""
    carry = [c for c in new.columns if c not in ("doc_id", "band_key")]

    def pairs(x: DataFrame, y: DataFrame, order: Column) -> DataFrame:
        return x.alias("x").join(
            y.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key")) & order,
        ).select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            *[F.col(f"x.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"y.{c}").alias(f"{c}_b") for c in carry],
        )

    cand = pairs(new, new, F.col("x.doc_id") < F.col("y.doc_id"))
    if prior is not None:
        cand = cand.unionByName(
            pairs(prior, new, F.col("x.doc_id") != F.col("y.doc_id"))
        )
    return cand.dropDuplicates(["doc_a", "doc_b"])


def candidate_ctes() -> str:
    """DuckDB twin of the batch chain up to the candidate join: CTEs
    ``h(doc_id, hs)``, ``s``, ``b`` and ``cand(doc_a, doc_b)``."""
    sig = hashing.minhash_signature_sql("hs")
    bk = hashing.band_keys_sql("sig")
    return f"""h AS (
      SELECT doc_id, hs FROM {text.hashed_shingle_table_sql()}
    ), s AS (
      SELECT doc_id, hs, {sig} AS sig FROM h
    ), b AS (
      SELECT doc_id, unnest({bk}) AS band_key FROM s
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM b x JOIN b y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    )"""


def minhash_cte_chain() -> str:
    """:func:`candidate_ctes` plus ``pairs(doc_a, doc_b, jaccard)``: the
    verified (≥ 0.5) candidate pairs, shared by the near-dup pair and
    clustering oracles."""
    return f"""{candidate_ctes()}, scored AS (
      SELECT c.doc_a, c.doc_b,
             round(
               len(list_filter(ha.hs, v -> list_contains(hb.hs, v))) * 1.0
               / (len(ha.hs) + len(hb.hs)
                  - len(list_filter(ha.hs, v -> list_contains(hb.hs, v)))),
               6) AS jaccard
      FROM cand c
      JOIN h ha ON ha.doc_id = c.doc_a
      JOIN h hb ON hb.doc_id = c.doc_b
    ), pairs AS (
      SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
    )"""
