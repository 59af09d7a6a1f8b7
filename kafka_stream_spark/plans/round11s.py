"""Round-11 batch S (X797–X799): bipartite motifs, similarity-graph
homophily, and temporal-split next-event evaluation.

Reference scope note: §2.13 mandate extensions, reference-free.

- X797 q_butterflies: butterfly (2×2 biclique) and wedge counts on
  the customer↔brand purchase bipartite graph — the bipartite
  analogue of triangle counting (X-triangles counts the projected
  graph; butterflies are THE bipartite cohesion motif, Wang et al.
  2019).  Counted on the SMALL side: Σ C(co_AB, 2) over brand pairs,
  so the expensive stage is brands² rows however many customers.
- X798 q_dupgraph_homophily: discrete attribute assortativity
  (Newman 2003) of LANGUAGE over the verified near-dup pair graph —
  do near-duplicates stay within a language?  The replica corpus
  says no (cross-lingual templates), which is exactly what the
  metric is for: it decides whether dedup may shard by language.
- X799 q_next_event_eval: temporal-split evaluation of the X110
  Markov next-event model — transition matrix trained on the first
  80% of days, argmax prediction scored on held-out transitions vs
  the majority-class baseline; the accuracy readout that turns the
  transition matrix from a descriptive table into a validated model.

Determinism: motif/mixing/diversity inputs are exact integer counts;
c·ln c terms quantize 1e-9 (X771 discipline); argmax predictions
break ties on the type string; doubles appear only in final rounded
ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.lsh import minhash_cte_chain
from ..sources.dims import local_frame
from ..sources.tables import load
from .llm_ext import near_dup_pairs
from .registry import query

# ---------------------------------------------------------------------------
# X797 — butterfly counting on the customer↔brand bipartite graph
# ---------------------------------------------------------------------------

_BF_ORACLE = """
    WITH m AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey),
    du AS (SELECT cust, count(*) AS d FROM m GROUP BY 1),
    db AS (SELECT brand, count(*) AS d FROM m GROUP BY 1),
    co AS (
      SELECT a.brand AS ba, b.brand AS bb, count(*) AS c
      FROM m a JOIN m b ON b.cust = a.cust AND a.brand < b.brand
      GROUP BY 1, 2)
    SELECT CAST((SELECT sum(c * (c - 1) / 2) FROM co) AS BIGINT)
             AS n_butterflies,
           CAST((SELECT sum(d * (d - 1) / 2) FROM du) AS BIGINT)
             AS n_wedges_user,
           CAST((SELECT sum(d * (d - 1) / 2) FROM db) AS BIGINT)
             AS n_wedges_brand,
           round(CAST((SELECT sum(c * (c - 1) / 2) FROM co) AS DOUBLE)
                 / greatest((SELECT sum(d * (d - 1) / 2) FROM du), 1), 6)
             AS butterflies_per_user_wedge
    """


@query("q_butterflies", oracle=_BF_ORACLE)
def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X797 — butterfly (2×2 biclique) counting on the customer↔brand
    purchase graph: B = Σ_{{A<B}} C(co_AB, 2) over brand pairs, where
    co_AB = customers buying both — the bipartite cohesion motif
    (triangles don't exist in bipartite graphs; butterflies are what
    clustering means there), plus user/brand wedge counts and the
    butterfly-per-wedge density.

    The side trick: counting via BRAND pairs makes the expensive
    stage brands²/2 rows regardless of how many customers exist — the
    co-occurrence join shuffles on cust and aggregates to the small
    side (the standard per-side-choice in parallel butterfly counting).

    Exactness: all four outputs derive from exact integer memberships;
    one final rounded density ratio.

    Scale: one distinct membership rollup + one cust-keyed self-join
    aggregated to brand pairs; wedge sums are map-combinable."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderkey"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    m = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("cust", "brand")
        .distinct()
    )
    m = m.localCheckpoint()
    du = m.groupBy("cust").agg(F.count("*").alias("d"))
    db = m.groupBy("brand").agg(F.count("*").alias("d"))
    mb = m.select(F.col("cust").alias("cust2"), F.col("brand").alias("bb"))
    co = (
        m.join(
            mb,
            (F.col("cust") == F.col("cust2"))
            & (F.col("brand") < F.col("bb")),
        )
        .groupBy("brand", "bb")
        .agg(F.count("*").alias("c"))
    )
    bf = co.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("b")
    )
    wu = du.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wu")
    )
    wb = db.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wb")
    )
    return (
        bf.crossJoin(wu)
        .crossJoin(wb)
        .select(
            F.col("b").alias("n_butterflies"),
            F.col("wu").alias("n_wedges_user"),
            F.col("wb").alias("n_wedges_brand"),
            F.round(
                F.col("b").cast("double")
                / F.greatest(F.col("wu"), F.lit(1)),
                6,
            ).alias("butterflies_per_user_wedge"),
        )
    )


# ---------------------------------------------------------------------------
# X798 — language homophily / assortativity on the near-dup graph
# ---------------------------------------------------------------------------

_HOMOPHILY_ORACLE = f"""
    WITH {minhash_cte_chain()},
    lab AS (SELECT doc_id, lang FROM documents),
    e AS (
      SELECT la.lang AS li, lb.lang AS lj
      FROM pairs p
      JOIN lab la ON la.doc_id = p.doc_a
      JOIN lab lb ON lb.doc_id = p.doc_b),
    sym AS (
      SELECT li, lj FROM e UNION ALL SELECT lj AS li, li AS lj FROM e),
    tot AS (SELECT count(*) AS m2 FROM sym),
    deg AS (SELECT li, count(*) AS d FROM sym GROUP BY 1),
    same AS (SELECT count(*) AS s2 FROM sym WHERE li = lj),
    aa AS (
      SELECT sum(CAST(d AS HUGEINT) * d) AS sq FROM deg)
    SELECT CAST(tot.m2 / 2 AS BIGINT) AS n_edges,
           CAST(same.s2 / 2 AS BIGINT) AS n_same_lang,
           round(CAST(same.s2 AS DOUBLE) / tot.m2, 6) AS frac_same,
           CASE WHEN aa.sq = CAST(tot.m2 AS HUGEINT) * tot.m2
                THEN 1.0
                ELSE round(
                  (CAST(same.s2 AS DOUBLE) / tot.m2
                   - CAST(aa.sq AS DOUBLE) / tot.m2 / tot.m2)
                  / (1 - CAST(aa.sq AS DOUBLE) / tot.m2 / tot.m2), 6)
           END AS assortativity_r
    FROM tot, same, aa
    """


@query("q_dupgraph_homophily", oracle=_HOMOPHILY_ORACLE)
def q_dupgraph_homophily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X798 — discrete attribute assortativity (Newman 2003) of
    LANGUAGE over the verified MinHash near-dup pair graph: r =
    (Σeᵢᵢ − Σaᵢ²)/(1 − Σaᵢ²) over the symmetrized lang×lang mixing
    matrix — do near-duplicates stay within a language?  On the
    replica corpus they largely do NOT (cross-lingual templated
    twins), which is the finding that forbids sharding dedup by
    language — exactly the decision this metric exists to gate.

    Exactness: mixing counts and degree sums are exact integers
    (int128 squares); r is one double expression on those integers,
    rounded 6; the all-one-language degenerate case pins r = 1.

    Scale: edges come from the E2 LSH path (banded, never all-pairs);
    the mixing matrix is langs², the degree rollup langs-sized."""
    pairs = near_dup_pairs(spark, sf_dir)
    lab = load(spark, sf_dir, "documents").select("doc_id", "lang")
    la = lab.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("li")
    )
    lb = lab.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lj")
    )
    e = pairs.join(F.broadcast(la), "doc_a").join(F.broadcast(lb), "doc_b")
    sym = e.select("li", "lj").unionByName(
        e.select(F.col("lj").alias("li"), F.col("li").alias("lj"))
    )
    sym = sym.localCheckpoint()
    m2 = sym.count()
    s2 = sym.filter(F.col("li") == F.col("lj")).count()
    sq = (
        sym.groupBy("li")
        .agg(F.count("*").alias("d"))
        .agg(
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sq")
        )
        .collect()[0]["sq"]
    )
    sq = int(sq)
    frac_same = s2 / m2
    aa2 = sq / m2 / m2
    r = 1.0 if sq == m2 * m2 else round(
        (frac_same - aa2) / (1 - aa2), 6
    )
    return local_frame(
        spark,
        [
            (
                m2 // 2,
                s2 // 2,
                round(frac_same, 6),
                r,
            )
        ],
        "n_edges long, n_same_lang long, frac_same double,"
        " assortativity_r double",
    )


# ---------------------------------------------------------------------------
# X799 — temporal-split next-event prediction evaluation
# ---------------------------------------------------------------------------

_NE_ORACLE = """
    WITH p AS (
      SELECT user_id, event_type,
             CAST(ts AS DATE) - DATE '1970-01-01' AS d,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt,
             lead(CAST(ts AS DATE) - DATE '1970-01-01')
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nd
      FROM events),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM p),
    cut AS (SELECT d0 + (d1 - d0 + 1) * 8 // 10 AS c FROM span),
    tr AS (
      SELECT event_type AS prev, nxt FROM p, cut
      WHERE nxt IS NOT NULL AND d < cut.c AND nd < cut.c),
    te AS (
      SELECT event_type AS prev, nxt FROM p, cut
      WHERE nxt IS NOT NULL AND d >= cut.c AND nd >= cut.c),
    model AS (
      SELECT prev, nxt AS pred FROM (
        SELECT prev, nxt, count(*) AS c,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY count(*) DESC, nxt) AS rk
        FROM tr GROUP BY prev, nxt) WHERE rk = 1),
    base AS (
      SELECT nxt AS pred FROM (
        SELECT nxt, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, nxt) AS rk
        FROM tr GROUP BY nxt) WHERE rk = 1),
    scored AS (
      SELECT CASE WHEN m.pred = te.nxt THEN 1 ELSE 0 END AS hit,
             CASE WHEN b.pred = te.nxt THEN 1 ELSE 0 END AS bhit
      FROM te JOIN model m ON m.prev = te.prev CROSS JOIN base b)
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           round(sum(hit) * 1.0 / count(*), 6) AS acc_model,
           round(sum(bhit) * 1.0 / count(*), 6) AS acc_baseline
    FROM scored
    """


@query("q_next_event_eval", oracle=_NE_ORACLE)
def q_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X799 — temporal-split evaluation of the first-order Markov
    next-event model (X110's transition matrix made a validated
    predictor): train transitions on the first 80% of calendar days,
    predict argmax P(next|current) (ties → type asc) on the held-out
    transitions, report accuracy vs the majority-next-type baseline —
    the eval readout that says whether session structure predicts
    anything beyond the marginal.

    Exactness: the day cut is an integer expression over the span;
    train counts, argmax selections, and both accuracies are exact
    integers/ratios.

    Scale: one user-partitioned lead window + two count rollups; the
    model is a types²-row broadcast."""
    ev = load(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
            "d"
        ),
        F.lead("event_type").over(wu).alias("nxt"),
        F.lead(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        )
        .over(wu)
        .alias("nd"),
    ).filter(F.col("nxt").isNotNull())
    p = p.localCheckpoint()
    span = p.agg(F.min("d").alias("d0"), F.max("d").alias("d1")).collect()[0]
    cut = span["d0"] + (span["d1"] - span["d0"] + 1) * 8 // 10
    tr = p.filter((F.col("d") < cut) & (F.col("nd") < cut)).select(
        F.col("event_type").alias("prev"), "nxt"
    )
    te = p.filter((F.col("d") >= cut) & (F.col("nd") >= cut)).select(
        F.col("event_type").alias("prev"), "nxt"
    )
    model = (
        tr.groupBy("prev", "nxt")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("prev").orderBy(F.desc("c"), F.asc("nxt"))
            ),
        )
        .filter(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    base = (
        tr.groupBy("nxt")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.desc("c"), F.asc("nxt"))),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("nxt").alias("bpred"))
    )
    scored = te.join(F.broadcast(model), "prev").crossJoin(
        F.broadcast(base)
    )
    return scored.agg(
        F.count("*").alias("n_test"),
        F.round(
            F.sum((F.col("pred") == F.col("nxt")).cast("int"))
            * 1.0
            / F.count("*"),
            6,
        ).alias("acc_model"),
        F.round(
            F.sum((F.col("bpred") == F.col("nxt")).cast("int"))
            * 1.0
            / F.count("*"),
            6,
        ).alias("acc_baseline"),
    )
