"""Semantic invariants for the round-9 batch (X647–X658)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafka_stream_spark.plans.round9 import (
    _FL_K,
    _MM_TAU,
    q_data_map,
    q_dawid_skene,
    q_distinct_n,
    q_doremi_weights,
    q_ess_diagnostics,
    q_facility_location,
    q_kalman_1d_grouped,
    q_krippendorff_alpha,
    q_margin_mining_routed,
    q_ndcg_mrr,
    q_pass_at_k,
    q_rbo,
)
from kafka_stream_spark.plans.round8 import q_kalman_1d


def test_kalman_grouped_equals_unrolled(spark, sf_dir):
    """The applyInPandas fold must reproduce the unrolled per-step fold
    bit-for-bit — same rounded recurrence, same trajectory."""
    a = {tuple(r) for r in q_kalman_1d(spark, sf_dir).collect()}
    b = {tuple(r) for r in q_kalman_1d_grouped(spark, sf_dir).collect()}
    assert a == b


def test_margin_mining_routed_mutual_and_thresholded(spark, sf_dir):
    rows = q_margin_mining_routed(spark, sf_dir).collect()
    assert all(r["margin"] >= _MM_TAU for r in rows)
    # mutual best ⇒ each x and each y appears at most once
    xs = [r["x_id"] for r in rows]
    ys = [r["y_id"] for r in rows]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))


def test_pass_at_k_monotone_in_k(spark, sf_dir):
    rows = {r["k"]: r for r in q_pass_at_k(spark, sf_dir).collect()}
    assert set(rows) == {1, 5, 10}
    assert rows[1]["mean_pass"] <= rows[5]["mean_pass"] <= rows[10]["mean_pass"]
    assert all(0.0 <= r["mean_pass"] <= 1.0 for r in rows.values())


def test_pass_at_1_is_mean_pass_rate(spark, sf_dir):
    """pass@1 reduces to the mean per-prompt pass fraction c/n."""
    from kafka_stream_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    expected = (
        e.groupBy("user_id")
        .agg(
            (
                F.sum((F.col("value") >= 100.0).cast("int")) / F.count("*")
            ).alias("f")
        )
        .agg(F.avg("f"))
        .collect()[0][0]
    )
    got = {r["k"]: r for r in q_pass_at_k(spark, sf_dir).collect()}[1][
        "mean_pass"
    ]
    assert abs(got - expected) < 1e-6


def test_rbo_bounds(spark, sf_dir):
    r = q_rbo(spark, sf_dir).collect()[0]
    assert 0.0 <= r["rbo"] <= 1.0
    assert 0.0 <= r["overlap_at_k"] <= 1.0


def test_ess_diagnostics_invariants(spark, sf_dir):
    r = q_ess_diagnostics(spark, sf_dir).collect()[0]
    assert 0 < r["ess"] <= r["n_proposal"]
    assert 0 < r["ess_frac"] <= 1.0
    # density-ratio weights average 1 under the proposal ⇒ max ≥ 1
    assert r["max_w"] >= 1.0
    # truncation reduces weight variance ⇒ clipped ESS can't be lower
    assert r["ess_clipped"] >= r["ess"] - 1e-6
    assert 0 < r["clip_mass"] <= 1.0


def test_ndcg_mrr_bounds(spark, sf_dir):
    r = q_ndcg_mrr(spark, sf_dir).collect()[0]
    for c in ("mean_ndcg", "mean_mrr", "mean_recall"):
        assert 0.0 <= r[c] <= 1.0, c
    assert r["n_queries"] > 0


def test_distinct_n_ratios(spark, sf_dir):
    rows = q_distinct_n(spark, sf_dir).collect()
    assert {r["n"] for r in rows} == {1, 2, 3}
    for r in rows:
        assert 0 < r["distinct_grams"] <= r["total_grams"]
        assert 0.0 < r["distinct_ratio"] <= 1.0


def test_data_map_quadrants_consistent(spark, sf_dir):
    for r in q_data_map(spark, sf_dir).collect():
        assert 0.0 <= r["confidence"] <= 1.0
        assert 0.0 <= r["correctness"] <= 1.0
        if r["quadrant"] == "ambiguous":
            assert r["variability"] >= 0.2 - 1e-6
        elif r["quadrant"] == "easy":
            assert r["confidence"] >= 0.5 and r["variability"] < 0.2 + 1e-6
        else:
            assert r["confidence"] < 0.5 and r["variability"] < 0.2 + 1e-6


def test_dawid_skene_outputs(spark, sf_dir):
    rows = q_dawid_skene(spark, sf_dir).collect()
    assert len(rows) == 5  # one per event_type annotator
    for r in rows:
        assert 0.0 < r["accuracy"] < 1.0
        assert 0.0 <= r["prevalence"] <= 1.0


def test_krippendorff_alpha_bounds(spark, sf_dir):
    r = q_krippendorff_alpha(spark, sf_dir).collect()[0]
    assert r["d_o"] >= 0 and r["d_e"] > 0
    assert r["alpha"] <= 1.0
    assert r["n_votes"] >= 2 * r["n_items"]


def test_doremi_weights_normalized(spark, sf_dir):
    rows = q_doremi_weights(spark, sf_dir).collect()
    s = sum(r["weight"] for r in rows)
    assert abs(s - 1.0) < 1e-4
    assert all(r["weight"] > 0 for r in rows)


def test_facility_location_greedy_invariants(spark, sf_dir):
    rows = sorted(
        q_facility_location(spark, sf_dir).collect(), key=lambda r: r["rnd"]
    )
    assert len(rows) == _FL_K
    gains = [r["gain"] for r in rows]
    # submodularity ⇒ greedy marginal gains are non-increasing
    assert all(a >= b - 1e-9 for a, b in zip(gains, gains[1:]))
    covs = [r["total_cov"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(covs, covs[1:]))
    # selected facilities are distinct (a reselected facility has 0 gain)
    fac = [r["facility"] for r in rows]
    assert len(fac) == len(set(fac))
    # coverage accounting: cov_t - cov_{t-1} == gain_t (same rounding chain)
    for i in range(1, len(rows)):
        assert math.isclose(
            covs[i] - covs[i - 1], gains[i], abs_tol=2e-6
        )


def test_inbatch_collision_vs_expectation(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import q_inbatch_collision

    r = q_inbatch_collision(spark, sf_dir).collect()[0]
    assert r["n_batches"] >= 2
    assert 0.0 <= r["collision_rate"] <= 1.0
    assert r["max_batch_rate"] >= r["collision_rate"] - 1e-9
    # a hash batcher should land near the label-marginal expectation
    assert abs(r["collision_rate"] - r["expected_rate"]) < 0.1


def test_chinchilla_plan_monotone(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import q_chinchilla_plan

    rows = q_chinchilla_plan(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs = sorted(rs, key=lambda r: r["flops"])
        # bigger budgets need more data; feasibility only degrades
        for a, b in zip(rs, rs[1:]):
            assert b["d_opt"] > a["d_opt"]
            assert b["epochs_needed"] > a["epochs_needed"]
            assert a["feasible"] or not b["feasible"]
        for r in rs:
            # Chinchilla D = 20 N by construction
            assert abs(r["d_opt"] - 20.0 * r["n_opt"]) <= 1e-4 * r["d_opt"]


def test_soft_dedup_bounds(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import q_soft_dedup_weights

    for r in q_soft_dedup_weights(spark, sf_dir).collect():
        assert 0 < r["effective_chars"] <= r["raw_chars"] + 1e-6
        assert 0.0 <= r["dedup_discount"] < 1.0


def test_bbse_recovers_shift(spark, sf_dir):
    """BBSE's estimated target prior must land near the target's TRUE
    label prior (observable here because the 'unlabeled' target has
    the same value column the label derives from)."""
    from kafka_stream_spark.plans.round9 import q_bbse_label_shift
    from kafka_stream_spark.sources.tables import load

    r = q_bbse_label_shift(spark, sf_dir).collect()[0]
    e = load(spark, sf_dir, "events")
    true_prior = (
        e.filter(F.col("event_type") == "purchase")
        .agg(F.avg((F.col("value") >= 50.0).cast("double")))
        .collect()[0][0]
    )
    assert abs(r["est_target_prior1"] - true_prior) < 0.1
    assert r["w0"] > 0 and r["w1"] > 0


def test_bfs_hops_structure(spark, sf_dir):
    """Bipartite shipment graph: seeds are suppliers, so odd hops are
    customers and even hops suppliers; counts must cover every node."""
    from kafka_stream_spark.plans.round9 import q_bfs_hops

    rows = {r["hop"]: r["n_nodes"] for r in q_bfs_hops(spark, sf_dir).collect()}
    assert rows.get(0, 0) >= 1  # seeds exist
    assert all(h in (-1, 0, 1, 2, 3, 4) for h in rows)
    # frontier can only shrink to zero monotonically: if hop k is absent
    # but k+1 present, something relaxed through a missing frontier
    present = sorted(h for h in rows if h >= 0)
    assert present == list(range(len(present)))


def test_neyman_allocation_sums_to_budget(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import (
        _NEYMAN_BUDGET,
        q_neyman_alloc,
    )

    rows = q_neyman_alloc(spark, sf_dir).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    # per-stratum rounding can drift the integer total by at most the
    # stratum count
    assert abs(sum(r["n_alloc"] for r in rows) - _NEYMAN_BUDGET) <= len(rows)
    for r in rows:
        assert r["s_h"] >= 0 and r["n_alloc"] >= 0


def test_mmr_rerank_diversity_property(spark, sf_dir):
    """MMR invariants: per query exactly K distinct picks; rank-1 is
    the pure-relevance argmax of the candidate pool; mmr_score is
    non-increasing in rank for rounds 2+ (both are lambda-discounted;
    round 1 scores on raw relevance so it is excluded)."""
    from kafka_stream_spark.plans.round9 import _MMR_K, q_mmr_rerank

    rows = q_mmr_rerank(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert len(rs) == _MMR_K
        assert len({r["n_id"] for r in rs}) == _MMR_K
        assert rs[0]["mmr_score"] == rs[0]["rel"]  # round 1 = relevance
        for a, b in zip(rs[1:], rs[2:]):
            assert a["mmr_score"] >= b["mmr_score"] - 1e-9


def test_cascade_plan_monotone_in_threshold(spark, sf_dir):
    """Raising the threshold routes less traffic to the big model, so
    cost is non-increasing; quality is non-increasing too once the
    threshold passes the small model's competence bound (items between
    the bound and t are wrong)."""
    from kafka_stream_spark.plans.round9 import (
        _CASC_SMALL_CORRECT,
        q_cascade_plan,
    )

    rows = sorted(
        q_cascade_plan(spark, sf_dir).collect(), key=lambda r: r["threshold"]
    )
    for a, b in zip(rows, rows[1:]):
        assert b["frac_big"] <= a["frac_big"] + 1e-9
        assert b["mean_cost"] <= a["mean_cost"] + 1e-9
    for r in rows:
        if r["threshold"] <= _CASC_SMALL_CORRECT:
            assert r["quality"] == 1.0  # everything hard escalates
        assert 0.0 <= r["quality"] <= 1.0


def test_curation_funnel_partitions_corpus(spark, sf_dir):
    """Stage attribution is a partition: doc and char shares sum to 1,
    and every document lands in exactly one stage."""
    from kafka_stream_spark.plans.round9 import q_curation_funnel
    from kafka_stream_spark.sources.tables import load

    rows = q_curation_funnel(spark, sf_dir).collect()
    n_total = load(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert abs(sum(r["frac_docs"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["frac_chars"] for r in rows) - 1.0) < 1e-4
    stages = {r["stage"] for r in rows}
    assert "S5_kept" in stages


def test_embedding_rank_production_twin_matches_gate(spark, sf_dir):
    """X671: the mapInPandas matrix-partial path must agree with the
    gate-pinned explode form to numerical tolerance (BLAS accumulation
    order differs from the rounded scalar chain — approx, not hash)."""
    from kafka_stream_spark.operators.embedstats import covariance_stats
    from kafka_stream_spark.plans.round9 import q_embedding_rank
    from kafka_stream_spark.sources.tables import load

    gate = q_embedding_rank(spark, sf_dir).collect()[0]
    prod = covariance_stats(load(spark, sf_dir, "embeddings"))
    assert prod["n_vecs"] == gate["n_vecs"]
    assert prod["dim"] == gate["dim"]
    assert abs(prod["total_var"] - gate["total_var"]) < 1e-4
    assert (
        abs(prod["participation_ratio"] - gate["participation_ratio"]) < 1e-3
    )
    assert prod["top_var_dim"] == gate["top_var_dim"]
    # sanity: PR is bounded by the ambient dimension
    assert 1.0 <= prod["participation_ratio"] <= prod["dim"] + 1e-9


def test_double_ml_matches_naive_when_no_confounding(spark, sf_dir):
    """Treatment (user parity) is randomized w.r.t. the bucket
    covariate, so the cross-fitted DML theta must land near the naive
    difference-in-means — and den must be ~n/4 (binary t, p~1/2)."""
    from kafka_stream_spark.plans.round9 import q_double_ml
    from kafka_stream_spark.sources.tables import load

    r = q_double_ml(spark, sf_dir).collect()[0]
    e = load(spark, sf_dir, "events")
    means = (
        e.groupBy((F.col("user_id") % 2).alias("t"))
        .agg(F.avg(F.length("props").cast("double")).alias("m"))
        .collect()
    )
    by_t = {row["t"]: row["m"] for row in means}
    naive = by_t[1] - by_t[0]
    assert abs(r["theta"] - naive) < 0.5
    assert abs(r["den"] - r["n"] / 4) < r["n"] * 0.05


def test_successive_halving_tournament_shape(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import (
        _SH_RUNGS,
        q_successive_halving,
    )

    rows = q_successive_halving(spark, sf_dir).collect()
    by_rung: dict[int, list] = {}
    for r in rows:
        by_rung.setdefault(r["rung"], []).append(r)
    keeps = {rung: keep for rung, _, keep in _SH_RUNGS}
    prev_kept = None
    for rung in sorted(by_rung):
        rs = by_rung[rung]
        kept = {r["arm"] for r in rs if r["kept"]}
        assert len(kept) == keeps[rung]
        if prev_kept is not None:
            # only prior survivors compete at this rung
            assert {r["arm"] for r in rs} == prev_kept
        prev_kept = kept
    assert len(prev_kept) == 1  # a single winner


def test_doubly_robust_relationships(spark, sf_dir):
    """DR = DM + correction; with bucket-constant q-hat the correction
    is exactly zero (q-hat IS the per-bucket logged mean), so DR == DM
    here — the estimator's defining identity under a saturated model."""
    from kafka_stream_spark.plans.round9 import q_doubly_robust

    r = q_doubly_robust(spark, sf_dir).collect()[0]
    assert r["n_logged"] > 0 and r["n_target"] > 0
    assert abs(r["v_dr"] - r["v_dm"]) < 1e-4
    assert r["v_ips"] > 0 and r["v_dm"] > 0


def test_deletion_audit_covers_join_graph(spark, sf_dir):
    """Transitive erasure: lineitem's affected count must equal the
    rows reachable through the orders join, and every table reports a
    sane fraction and partition count."""
    from kafka_stream_spark.plans.round9 import q_deletion_audit
    from kafka_stream_spark.sources.tables import load

    rows = {r["tbl"]: r for r in q_deletion_audit(spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem", "events"}
    for r in rows.values():
        assert 0 <= r["n_affected"] <= r["n_rows"]
        assert 0.0 <= r["frac_affected"] <= 1.0
        if r["n_affected"] > 0:
            assert r["n_partitions_to_rewrite"] >= 1
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    expected = li.join(
        orders.filter(F.col("o_custkey") % 97 == 5).select(
            F.col("o_orderkey").alias("l_orderkey")
        ),
        "l_orderkey",
    ).count()
    assert rows["lineitem"]["n_affected"] == expected


def test_verbosity_bias_bounds(spark, sf_dir):
    from kafka_stream_spark.plans.round9 import q_verbosity_bias

    r = q_verbosity_bias(spark, sf_dir).collect()[0]
    assert r["n_pairs"] > 0
    for c in (
        "frac_chosen_longer",
        "frac_longer_high_margin",
        "frac_longer_low_margin",
    ):
        assert 0.0 <= r[c] <= 1.0, c
    # the quality score rewards length directly (0.4 * min(n/100, 1)),
    # so the audit MUST flag a longer-chosen majority on this corpus —
    # i.e. the query detects the bias it exists to detect
    assert r["frac_chosen_longer"] > 0.5
    assert r["mean_len_gap"] > 0


def test_knn_shapley_efficiency_axiom(spark, sf_dir):
    """Shapley efficiency: per test point the values sum to the grand
    coalition's utility — for KNN-Shapley, sum_i s_i = (1/K)·sum of
    delta over the top-K ranked points = the KNN accuracy on that test
    point. Check the corpus-level consequence: all top-20 values are
    positive and labels of the most valuable points overwhelmingly
    appear among anchor labels (value flows to label-matching
    neighbors)."""
    from kafka_stream_spark.plans.round9 import q_knn_shapley
    from kafka_stream_spark.sources.tables import load

    rows = q_knn_shapley(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["shapley_value"] > 0 for r in rows)
    anchor_labels = {
        r["label"]
        for r in load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select("label")
        .collect()
    }
    top = [r for r in rows[:10]]
    assert sum(1 for r in top if r["label"] in anchor_labels) >= 8


def test_knn_shapley_routed_twin_overlaps_exact(spark, sf_dir):
    """X680: the ANN-truncated estimator must (a) produce a full
    top-20 (the empty-quantizer regression: corpus excludes
    vec_id%25==0, so a residue-0 every-50th codebook is empty) and
    (b) substantially agree with the exact form on WHO is valuable —
    value concentrates in the top ranks both estimators see."""
    from kafka_stream_spark.plans.round9 import (
        q_knn_shapley,
        q_knn_shapley_routed,
    )

    exact = [r["vec_id"] for r in q_knn_shapley(spark, sf_dir).collect()]
    routed_rows = q_knn_shapley_routed(spark, sf_dir).collect()
    routed = [r["vec_id"] for r in routed_rows]
    assert len(routed) == 20
    assert all(r["shapley_value"] > 0 for r in routed_rows)
    assert all(r["n_anchors"] >= 1 for r in routed_rows)
    # the estimators normalize differently (exact: mean over all
    # anchors; routed: sum over participating anchors), so top-20
    # membership legitimately diverges — measured 7/20 at sf0.001;
    # the guard catches gross disagreement / empty-candidate bugs
    overlap = len(set(exact) & set(routed))
    assert overlap >= 5, f"exact/routed top-20 overlap only {overlap}"
