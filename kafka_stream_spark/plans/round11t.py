"""Round-11 batch T (X800–X801): distributed greedy matching and
dedup-threshold percolation.

Reference scope note: §2.13 mandate extensions, reference-free.

- X800 q_greedy_matching: maximum-weight bipartite matching by the
  LOCALLY-DOMINANT edge rule (Preis 1999 / Manne–Bisseling): an edge
  matches when it is the best remaining edge of BOTH its endpoints
  under one global total order — provably the same matching the
  sequential weight-sorted greedy produces (½-approximation), but
  each round is two per-vertex argmax windows, fully parallel.  The
  allocation primitive behind graph coarsening and assignment-style
  pairing jobs.
- X801 q_dup_percolation: component structure of the LSH-candidate
  similarity graph at verify thresholds τ ∈ {0.3, 0.5, 0.7} — the
  dedup-threshold sensitivity study: how fast do dup sets merge into
  giant components as τ drops (the over-merge failure mode), and how
  much survives at a strict τ.  Shares the scored-candidate frame
  with q_near_dedup (same LSH path, threshold swept instead of
  fixed).

Determinism: matching's total order is (weight DESC, cust, supp);
component labels are min-doc-ids; every statistic is an exact
integer count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.lsh import minhash_cte_chain
from ..sources.dims import local_frame
from ..sources.tables import load
from .llm_ext import candidate_pairs_scored
from .registry import query

# ---------------------------------------------------------------------------
# X800 — locally-dominant greedy matching on the shipment graph
# ---------------------------------------------------------------------------

_GM_ROUNDS = 4


def _gm_round_sql(k: int) -> str:
    """One locally-dominant round: per-side best remaining edge via
    row_number over the global total order; matched = best of both."""
    return f"""bc{k} AS MATERIALIZED (
      SELECT cust, supp FROM (
        SELECT cust, supp,
               row_number() OVER (PARTITION BY cust
                 ORDER BY w DESC, supp) AS r
        FROM rem{k}) WHERE r = 1
    ), bs{k} AS MATERIALIZED (
      SELECT cust, supp FROM (
        SELECT cust, supp,
               row_number() OVER (PARTITION BY supp
                 ORDER BY w DESC, cust) AS r
        FROM rem{k}) WHERE r = 1
    ), m{k} AS MATERIALIZED (
      SELECT r.cust, r.supp, r.w FROM rem{k} r
      JOIN bc{k} ON bc{k}.cust = r.cust AND bc{k}.supp = r.supp
      JOIN bs{k} ON bs{k}.cust = r.cust AND bs{k}.supp = r.supp
    ), rem{k + 1} AS MATERIALIZED (
      SELECT * FROM rem{k}
      WHERE cust NOT IN (SELECT cust FROM m{k})
        AND supp NOT IN (SELECT supp FROM m{k})
    )"""


_GM_ORACLE = f"""
    WITH rem1 AS MATERIALIZED (
      SELECT o.o_custkey AS cust, l.l_suppkey AS supp,
             count(*) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    {', '.join(_gm_round_sql(k) for k in range(1, _GM_ROUNDS + 1))}
    SELECT rnd, CAST(n_matched AS BIGINT) AS n_matched,
           CAST(weight AS BIGINT) AS weight
    FROM (
      {' UNION ALL '.join(
          f"SELECT {k} AS rnd, count(*) AS n_matched,"
          f" coalesce(sum(w), 0) AS weight FROM m{k}"
          for k in range(1, _GM_ROUNDS + 1))})
    ORDER BY rnd
    """


@query("q_greedy_matching", oracle=_GM_ORACLE)
def q_greedy_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X800 — maximum-weight bipartite matching via locally-dominant
    edges (Preis 1999): per round, an edge matches iff it is the
    top remaining edge of BOTH endpoints under the global total order
    (w DESC, cust, supp); matched vertices leave, {_GM_ROUNDS} rounds
    unrolled.  Locally-dominant matching provably equals the
    sequential weight-sorted greedy (½-approx of optimal) — but every
    round here is two per-vertex argmax windows + one anti-join, all
    parallel; the sequential scan never happens.  The pairing
    primitive behind graph coarsening, mentor/task assignment, and
    multilevel partitioners.

    Output: per-round matched-edge count and weight (the convergence
    trajectory — most mass matches in round 1, the tail needs the
    later rounds).

    Exactness: weights are exact shipment counts; ties break on ids.

    Scale: each round is edge-grain windows partitioned by vertex —
    no global sort, no sequential dependency."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderkey"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_suppkey").alias("supp")
    )
    rem = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("cust", "supp")
        .agg(F.count("*").alias("w"))
    )
    # per-vertex argmax via combinable MIN-struct aggregates instead of
    # sort-windows (guide §2.3 — map-side partial aggregation, no
    # per-partition sort): min(struct(-w, other_id)) picks the highest
    # weight with ties to the lowest id — identical to row_number over
    # (w DESC, id ASC) = 1. Per-round stats stay DataFrames and fold
    # into ONE final action instead of a driver collect per round.
    stat_rows = []
    for k in range(1, _GM_ROUNDS + 1):
        rem = rem.localCheckpoint()
        bc = (
            rem.groupBy("cust")
            .agg(F.min(F.struct((-F.col("w")).alias("nw"), "supp")).alias("b"))
            .select("cust", F.col("b.supp").alias("supp"))
        )
        bs = (
            rem.groupBy("supp")
            .agg(F.min(F.struct((-F.col("w")).alias("nw"), "cust")).alias("b"))
            .select(F.col("b.cust").alias("cust"), "supp")
        )
        m = rem.join(bc, ["cust", "supp"]).join(bs, ["cust", "supp"])
        m = m.localCheckpoint(eager=True)
        stat_rows.append(
            m.agg(
                F.count("*").cast("long").alias("n_matched"),
                F.coalesce(F.sum("w"), F.lit(0))
                .cast("long")
                .alias("weight"),
            ).select(
                F.lit(k).cast("long").alias("rnd"), "n_matched", "weight"
            )
        )
        rem = rem.join(
            m.select("cust"), "cust", "left_anti"
        ).join(m.select("supp"), "supp", "left_anti")
    out = stat_rows[0]
    for s in stat_rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("rnd")


# ---------------------------------------------------------------------------
# X801 — dedup-threshold percolation on the candidate graph
# ---------------------------------------------------------------------------

_PERC_TAUS = (0.3, 0.5, 0.7)


def _perc_tau_sql(i: int, tau: float) -> str:
    return f"""e{i} AS (
      SELECT doc_a AS a, doc_b AS bb FROM scored WHERE jaccard >= {tau}
      UNION
      SELECT doc_b AS a, doc_a AS bb FROM scored WHERE jaccard >= {tau}
    ), v{i} AS (SELECT DISTINCT a AS v FROM e{i}),
    reach{i}(src, dst) AS (
      SELECT v, v FROM v{i}
      UNION
      SELECT r.src, e.bb FROM reach{i} r JOIN e{i} e ON r.dst = e.a
    ), lab{i} AS (
      SELECT src AS v, min(dst) AS comp FROM reach{i} GROUP BY src
    ), st{i} AS (
      SELECT {tau} AS tau,
             (SELECT count(*) FROM scored WHERE jaccard >= {tau})
               AS n_edges,
             (SELECT count(*) FROM v{i}) AS n_docs_in_dup_sets,
             (SELECT count(DISTINCT comp) FROM lab{i}) AS n_components,
             coalesce((SELECT max(c) FROM (
                SELECT count(*) AS c FROM lab{i} GROUP BY comp)), 0)
               AS max_component
    )"""


_PERC_ORACLE = f"""
    WITH RECURSIVE {minhash_cte_chain()},
    {', '.join(_perc_tau_sql(i, t) for i, t in enumerate(_PERC_TAUS))}
    SELECT CAST(tau AS DOUBLE) AS tau, CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_docs_in_dup_sets AS BIGINT) AS n_docs_in_dup_sets,
           CAST(n_components AS BIGINT) AS n_components,
           CAST(max_component AS BIGINT) AS max_component
    FROM ({' UNION ALL '.join(f'SELECT * FROM st{i}'
                              for i in range(len(_PERC_TAUS)))})
    ORDER BY tau
    """


@query("q_dup_percolation", oracle=_PERC_ORACLE)
def q_dup_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X801 — dedup-threshold percolation: connected-component
    structure of the LSH-candidate similarity graph at verify
    thresholds τ ∈ {_PERC_TAUS} — the threshold-sensitivity study run
    before committing a dedup τ: as τ drops, dup sets merge (the
    over-merge failure mode where one giant component swallows the
    corpus); as it rises, real dup mass survives unclustered.  Edges
    per τ, docs in dup sets, component count, and the largest
    component size quantify both failure modes.

    Shares q_near_dedup's scored-candidate frame (one LSH pass, the
    threshold applied afterwards), and the X21 pointer-jumping
    connected components per τ; the oracle replays each τ as a
    recursive CTE.

    Scale: ONE banded LSH pass + per-τ component propagation over the
    (tiny) verified edge sets — the candidate scoring never re-runs."""
    from ..operators.graph import connected_components

    scored = candidate_pairs_scored(spark, sf_dir)
    scored = scored.localCheckpoint(eager=True)
    # per-τ edge counts in ONE aggregate and per-τ distinct-vertex
    # counts in ONE explode+countDistinct pass (2 jobs total) instead
    # of a count job per τ per statistic (guide §1.2 — the scored
    # frame is shared; only the component propagation is per-τ)
    ecnt = scored.agg(
        *[
            F.sum((F.col("jaccard") >= t).cast("long")).alias(f"n{i}")
            for i, t in enumerate(_PERC_TAUS)
        ]
    ).collect()[0]
    n_edges_by_tau = {t: int(ecnt[f"n{i}"]) for i, t in enumerate(_PERC_TAUS)}
    # key the per-tau rows by INDEX, not by float equality after a
    # round-trip through a Spark double column (ADVICE r12): a future
    # _PERC_TAUS value that doesn't survive the float round-trip would
    # silently hit the .get default and report n_docs=0
    taus_df = local_frame(
        spark,
        [(i, float(t)) for i, t in enumerate(_PERC_TAUS)],
        "tau_idx int, tau double",
    )
    vcnt = (
        scored.crossJoin(F.broadcast(taus_df))
        .filter(F.col("jaccard") >= F.col("tau"))
        .select(
            "tau_idx",
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("v"),
        )
        .groupBy("tau_idx")
        .agg(F.countDistinct("v").alias("nv"))
        .collect()
    )
    n_docs_by_idx = {int(r["tau_idx"]): int(r["nv"]) for r in vcnt}
    # τ-monotone shared propagation (round 13, VERDICT r12 next #6,
    # guide §2.4): edge sets nest — e(0.7) ⊆ e(0.5) ⊆ e(0.3) — so
    # components at a higher τ sit INSIDE those at every lower τ.
    # Process τ DESCENDING: run full connected components only on the
    # smallest (highest-τ) graph, then for each lower τ CONTRACT every
    # already-known component to a supervertex (map both edge endpoints
    # through the doc→component labeling, drop self-loops) and
    # propagate on the contracted graph — identical components, one
    # full CC run instead of three.  Doc-grain labels are carried
    # forward (lab_docs) so component sizes stay exact doc counts.
    rows_by_idx: dict[int, tuple] = {}
    lab_docs = None  # (v, comp): doc → component at the previous (higher) τ
    for tau_i in range(len(_PERC_TAUS) - 1, -1, -1):
        tau = _PERC_TAUS[tau_i]
        n_edges = n_edges_by_tau[tau]
        n_docs = n_docs_by_idx.get(tau_i, 0)
        if n_edges == 0:
            rows_by_idx[tau_i] = (tau, 0, 0, 0, 0)
            continue
        e = scored.filter(F.col("jaccard") >= tau).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        e = e.localCheckpoint()
        if lab_docs is None:
            verts = (
                e.select(F.col("a").alias("v"))
                .unionByName(e.select(F.col("b").alias("v")))
                .distinct()
            )
            labels, _r = connected_components(verts, e, shuffle_partitions=4)
            lab_new = labels.select("v", "component")
        else:
            la = lab_docs.select(
                F.col("v").alias("a"), F.col("comp").alias("ca")
            )
            lb = lab_docs.select(
                F.col("v").alias("b"), F.col("comp").alias("cb")
            )
            em = (
                e.join(la, "a", "left")
                .join(lb, "b", "left")
                .select(
                    F.coalesce("ca", "a").alias("a"),
                    F.coalesce("cb", "b").alias("b"),
                )
            )
            sverts = (
                em.select(F.col("a").alias("v"))
                .unionByName(em.select(F.col("b").alias("v")))
                .distinct()
            )
            ec = em.filter(F.col("a") != F.col("b"))
            slabels, _r = connected_components(
                sverts, ec, shuffle_partitions=4
            )
            docs = (
                e.select(F.col("a").alias("v"))
                .unionByName(e.select(F.col("b").alias("v")))
                .distinct()
            )
            dm = docs.join(lab_docs, "v", "left").select(
                "v", F.coalesce("comp", "v").alias("sv")
            )
            lab_new = dm.join(
                slabels.select(F.col("v").alias("sv"), "component"), "sv"
            ).select("v", "component")
        comp = lab_new.groupBy("component").agg(F.count("*").alias("c"))
        stats = comp.agg(
            F.count("*").alias("nc"), F.max("c").alias("mx")
        ).collect()[0]
        rows_by_idx[tau_i] = (
            tau, n_edges, n_docs, int(stats["nc"]), int(stats["mx"])
        )
        if tau_i > 0:
            # consumed by three joins at the next (lower) τ
            lab_docs = lab_new.select(
                "v", F.col("component").alias("comp")
            ).localCheckpoint(eager=True)
    rows = [rows_by_idx[i] for i in range(len(_PERC_TAUS))]
    return local_frame(
        spark,
        rows,
        "tau double, n_edges long, n_docs_in_dup_sets long,"
        " n_components long, max_component long",
    ).orderBy("tau")
