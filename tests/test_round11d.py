"""Round-11 batch-O invariants: routed families served from the
persisted √n-codebook IVF index."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_stream_spark.plans.round11o import (
    ensure_side_index,
    ensure_valuation_index,
    q_knn_shapley_indexed,
    q_margin_mining_indexed,
)
from kafka_stream_spark.plans.round9 import _MM_TAU
from kafka_stream_spark.sources.tables import load


def test_margin_mining_indexed_mutual_best_and_cross_side(spark, sf_dir):
    """Output pairs are mutual bests (each x_id and each y_id appears
    once), margins clear tau, and every pair crosses sides."""
    rows = q_margin_mining_indexed(spark, sf_dir).collect()
    assert rows, "gate instance must be non-vacuous"
    xs = [r["x_id"] for r in rows]
    ys = [r["y_id"] for r in rows]
    assert len(xs) == len(set(xs))
    assert len(ys) == len(set(ys))
    side = {
        r["vec_id"]: r["label"] % 2
        for r in load(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    for r in rows:
        assert r["margin"] >= _MM_TAU
        assert side[r["x_id"]] == 0 and side[r["y_id"]] == 1


def test_side_index_not_rebuilt_across_searches(spark, sf_dir):
    """Serving never rebuilds: the persisted layout's mtime is
    unchanged across two query runs (the corpus-state contract)."""
    idx = ensure_side_index(spark, sf_dir, 0)
    marker = f"{idx}/assigned/_SUCCESS"
    assert os.path.exists(marker)
    t0 = os.path.getmtime(marker)
    q_margin_mining_indexed(spark, sf_dir).collect()
    assert os.path.getmtime(marker) == t0


def test_knn_shapley_indexed_values_bounded(spark, sf_dir):
    """Per-point summed Shapley values are bounded by the number of
    anchors retrieving the point (each per-anchor value ∈ [-1, 1])."""
    rows = q_knn_shapley_indexed(spark, sf_dir).collect()
    assert rows
    assert len(rows) <= 40
    idx = ensure_valuation_index(spark, sf_dir)
    assert os.path.exists(f"{idx}/centroids")
    for r in rows:
        assert abs(r["shapley"]) <= r["n_anchors"] + 1e-6


def test_knn_shapley_indexed_overlaps_exact(spark, sf_dir):
    """The persisted-index estimator substantially agrees with the
    exact form on WHO is valuable — the same guard test_round9 pins
    for the every=50 routed twin (different quantizers legitimately
    shuffle the tail; measured 7/20 there at sf0.001, ≥5 guards
    against gross disagreement / empty-candidate bugs)."""
    from kafka_stream_spark.plans.round9 import q_knn_shapley

    top_i = [
        r["n_id"] for r in q_knn_shapley_indexed(spark, sf_dir).collect()
    ][:20]
    exact = [r["vec_id"] for r in q_knn_shapley(spark, sf_dir).collect()][
        :20
    ]
    inter = set(top_i) & set(exact)
    assert len(inter) >= 5, f"only {len(inter)} of top-20 shared"


def test_theta_store_crash_resume_and_parity(spark, tmp_path):
    """X787 streaming face: sketch cells persist across batches; crash
    windows on the exported batch fn; then incremental ≡ batch — the
    store-derived report equals q_theta_sketch over all events (same
    theta_report, same cells, an identity by construction — the test
    pins the fold + versioned-store plumbing)."""
    import os

    from kafka_stream_spark.plans.round11m import q_theta_sketch
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        theta_state_fold,
        theta_from_store,
        merged_store_read,
        versioned_fold_batch_fn,
    )

    sf = "/root/testdata/sf0.001"
    events = load(spark, sf, "events")
    # split by USER (not time): KMV state is an order-independent set,
    # and at sf0.001 every user appears in both time halves, which
    # would make wave2 a state no-op and the crash window untestable
    wave1 = events.filter(F.col("user_id") % 2 == 0)
    wave2 = events.filter(F.col("user_id") % 2 == 1)
    assert wave1.count() > 0 and wave2.count() > 0

    store = str(tmp_path / "theta")
    fold = versioned_fold_batch_fn(store, theta_state_fold)

    def snap():
        return sorted(
            tuple(r) for r in merged_store_read(spark, store).collect()
        )

    fold(wave1, 0)
    s1 = snap()
    fold(wave2, 1)
    s2_good = snap()
    assert s2_good != s1
    os.remove(os.path.join(store, f"v={1:012d}", "_SUCCESS"))
    assert snap() == s1
    fold(wave2, 1)
    assert snap() == s2_good
    fold(wave2, 1)  # committed replay -> no-op
    assert snap() == s2_good

    got = sorted(
        tuple(r)
        for r in theta_from_store(merged_store_read(spark, store)).collect()
    )
    want = sorted(tuple(r) for r in q_theta_sketch(spark, sf).collect())
    assert got == want


def test_hard_negatives_indexed_label_mismatch_everywhere(spark, sf_dir):
    """X788: every mined negative crosses labels, ≤3 per anchor, and
    serving reuses the shared X748 index (no per-key layout)."""
    from kafka_stream_spark.plans.round11 import ensure_embedding_index
    from kafka_stream_spark.plans.round11o import q_hard_negatives_indexed
    from kafka_stream_spark.sources.tables import load

    rows = q_hard_negatives_indexed(spark, sf_dir).collect()
    assert rows
    lbl = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    per_anchor: dict[int, int] = {}
    for r in rows:
        assert lbl[r["cand"]] == r["clbl"]
        assert lbl[r["aid"]] != r["clbl"]
        per_anchor[r["aid"]] = per_anchor.get(r["aid"], 0) + 1
    assert all(v <= 3 for v in per_anchor.values())
    idx = ensure_embedding_index(spark, sf_dir)
    import os

    assert os.path.exists(f"{idx}/assigned/_SUCCESS")
