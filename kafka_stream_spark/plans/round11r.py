"""Round-11 batch R (X795–X796): sorted-neighborhood record linkage
and vocabulary coverage curves.

Reference scope note: §2.13 mandate extensions, reference-free.

- X795 q_sorted_neighborhood: the OTHER classic entity-resolution
  blocking strategy (Hernández & Stolfo 1995) — sort the names once,
  compare each against its w following sorted neighbors via lead()
  windows, score with Jaro-Winkler.  Complements q_jaro_winkler's
  first-token equi-blocking: SN catches lexicographically adjacent
  pairs whose first tokens differ, and its candidate count is
  EXACTLY w·n by construction (no block-size skew).
- X796 q_coverage_curve: the vocabulary coverage curve
  (X282's q_vocab_coverage pins a fixed-256 cut's OOV rate; this
  reports the cut SIZES for target coverages) — the
  smallest number of word types covering 50/90/95/99% of token mass
  — the number that sizes a tokenizer vocabulary / decides an OOV
  budget (Zipf X-fit gives the exponent; this gives the actionable
  cut points).

Determinism: JW scores round to 4 (the cross-engine algorithm-parity
contract q_jaro_winkler established); coverage cuts are exact integer
inequalities over exact count cumsums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as textfn
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# X795 — sorted-neighborhood blocking + Jaro-Winkler matching
# ---------------------------------------------------------------------------

_SN_W = 3  # compare each name against its w following sorted neighbors
_SN_TAU = 0.88

_SN_ORACLE = f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    srt AS (
      SELECT p_name,
             {', '.join(
                 f"lead(p_name, {k}) OVER (ORDER BY p_name) AS nb{k}"
                 for k in range(1, _SN_W + 1))}
      FROM names),
    cand AS (
      {' UNION ALL '.join(
          f"SELECT p_name AS name_a, nb{k} AS name_b FROM srt"
          f" WHERE nb{k} IS NOT NULL"
          for k in range(1, _SN_W + 1))}),
    scored AS (
      SELECT name_a, name_b,
             round(jaro_winkler_similarity(name_a, name_b), 4) AS jw
      FROM cand)
    SELECT name_a, name_b, jw FROM scored WHERE jw >= {_SN_TAU}
    ORDER BY name_a, name_b
    """


@query("q_sorted_neighborhood", oracle=_SN_ORACLE)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X795 — sorted-neighborhood record-linkage blocking (Hernández &
    Stolfo 1995): sort the distinct names ONCE, pair each with its
    {_SN_W} following sorted neighbors (lead windows — candidates are
    exactly {_SN_W}·n, no block-size skew possible), score with
    Jaro-Winkler, keep ≥ {_SN_TAU}.  The complementary strategy to
    q_jaro_winkler's first-token equi-blocking: SN sees
    lexicographically adjacent pairs across token boundaries, and the
    two blockings union into the standard multi-pass matcher.

    Cross-engine parity contract as q_jaro_winkler: Spark scores with
    the Arrow-batched pandas UDF, DuckDB with its NATIVE
    jaro_winkler_similarity — a genuine algorithm-parity check.

    Scale: one sort of the distinct-name dimension + {_SN_W} lead
    windows; the scorer sees w·n candidate rows, never a block
    cross-product."""
    from .ml_ext import _jw_udf

    names = load(spark, sf_dir, "part").select("p_name").distinct()
    w = W.orderBy("p_name")
    srt = names.select(
        "p_name",
        *[
            F.lead("p_name", k).over(w).alias(f"nb{k}")
            for k in range(1, _SN_W + 1)
        ],
    )
    cand = None
    for k in range(1, _SN_W + 1):
        part = srt.filter(F.col(f"nb{k}").isNotNull()).select(
            F.col("p_name").alias("name_a"),
            F.col(f"nb{k}").alias("name_b"),
        )
        cand = part if cand is None else cand.unionByName(part)
    return (
        cand.withColumn("jw", F.round(_jw_udf("name_a", "name_b"), 4))
        .filter(F.col("jw") >= _SN_TAU)
        .select("name_a", "name_b", "jw")
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# X796 — vocabulary coverage curve
# ---------------------------------------------------------------------------

_VC_PCTS = (50, 90, 95, 99)

_VC_ORACLE = f"""
    WITH cnt AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest({textfn.tokens_sql('lower(text)')}) AS w
        FROM documents) GROUP BY 1),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
    rk AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, w) AS r,
             sum(c) OVER (ORDER BY c DESC, w) AS cum
      FROM cnt),
    cuts AS (
      SELECT p.pct, min(rk.r) AS types_needed
      FROM rk CROSS JOIN (SELECT unnest([{', '.join(map(str, _VC_PCTS))}])
                          AS pct) p, tot
      WHERE 100 * rk.cum >= p.pct * tot.n
      GROUP BY p.pct)
    SELECT CAST(c.pct AS BIGINT) AS pct,
           CAST(c.types_needed AS BIGINT) AS types_needed,
           round(CAST(c.types_needed AS DOUBLE) / tot.v, 6)
             AS vocab_frac
    FROM cuts c, tot ORDER BY pct
    """


@query("q_coverage_curve", oracle=_VC_ORACLE)
def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X796 — vocabulary coverage curve: the smallest number of word
    types covering {_VC_PCTS}% of corpus token mass, plus the
    vocabulary fraction each cut keeps — the actionable companion to
    the Zipf fit (X-zipf gives the exponent; this gives the vocab
    sizes a tokenizer or OOV budget actually needs).

    Exactness: counts are exact; each cut is the integer inequality
    100·cumsum ≥ pct·total over a (count DESC, token) total order —
    deterministic ties both engines.

    Scale: one token-count shuffle + one vocabulary-grain sorted
    cumsum window (vocab ≪ corpus); the threshold fan-out is a 4-row
    broadcast."""
    cnt = (
        load(spark, sf_dir, "documents")
        .select(F.explode(textfn.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    ).collect()[0]
    n_tok, n_vocab = int(tot["n"]), int(tot["v"])
    w = W.orderBy(F.desc("c"), F.asc("w"))
    rk = cnt.select(
        "c",
        F.row_number().over(w).alias("r"),
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    pcts = local_frame(spark, [(p,) for p in _VC_PCTS], "pct long")
    return (
        rk.crossJoin(F.broadcast(pcts))
        .filter(F.lit(100) * F.col("cum") >= F.col("pct") * n_tok)
        .groupBy("pct")
        .agg(F.min("r").alias("types_needed"))
        .select(
            "pct",
            F.col("types_needed").cast("long").alias("types_needed"),
            F.round(
                F.col("types_needed").cast("double") / n_vocab, 6
            ).alias("vocab_frac"),
        )
        .orderBy("pct")
    )
