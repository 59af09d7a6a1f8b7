"""Semantic invariants for round-9 batch C (X703–X706)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_spark.plans.round9c import (
    _BON_NS,
    q_bon_unbiased,
    q_embedding_drift,
    q_lc_winrate,
    q_position_bias,
)
from kafka_stream_spark.sources.tables import load


def test_position_bias_consistency(spark, sf_dir):
    r = q_position_bias(spark, sf_dir).collect()[0]
    assert 0 < r["first_wins"] <= r["n_pairs"]
    assert abs(r["p_first"] - r["first_wins"] / r["n_pairs"]) < 1e-6
    # z sign agrees with the deviation direction
    if r["p_first"] > 0.5:
        assert r["z"] > 0
    elif r["p_first"] < 0.5:
        assert r["z"] < 0


def test_embedding_drift_nonnegative_and_small_on_random_split(spark, sf_dir):
    """A parity split of one stationary population has no real drift:
    PSI must be ≥ 0 (clamped) and small (well under the 0.2 'action'
    threshold practitioners use)."""
    rows = q_embedding_drift(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert 0.0 <= r["psi"] < 0.2


def test_lc_winrate_debiases_toward_half(spark, sf_dir):
    """Structural checks: rates in (0,1); σ(w0) is a genuine
    probability; and with the synthetic (value ⟂ props-length) data
    the length coefficient is near zero while lc ≈ raw."""
    r = q_lc_winrate(spark, sf_dir).collect()[0]
    assert 0.0 < r["raw_winrate"] < 1.0
    assert 0.0 < r["lc_winrate"] < 1.0
    assert abs(r["length_coef"]) < 0.5


def test_bon_monotone_in_n_and_bounded(spark, sf_dir):
    """E[max of n] is non-decreasing in n, n=1 equals the plain mean,
    and every estimate is within the observed reward range."""
    rows = q_bon_unbiased(spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    stats = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long"))
                / (100.0 * F.count("*"))
            ).alias("mean"),
        )
        .collect()
    }
    by_et = {}
    for r in rows:
        by_et.setdefault(r["event_type"], {})[r["n"]] = r["bon_reward"]
    assert set(len(v) for v in by_et.values()) == {len(_BON_NS)}
    for et, d in by_et.items():
        vals = [d[n] for n in sorted(d)]
        assert vals == sorted(vals)  # monotone in n
        assert abs(d[1] - stats[et]["mean"]) < 1e-3  # n=1 ⇒ mean
        assert stats[et]["lo"] - 1e-6 <= d[max(d)] <= stats[et]["hi"] + 1e-6


def test_rasch_difficulty_anticorrelates_with_success(spark, sf_dir):
    """Rasch identification: difficulties are sum-zero-centered and
    ordered OPPOSITE to empirical success (harder item ⇔ lower p),
    with ties in p allowed to break either way within quantization."""
    from kafka_stream_spark.plans.round9c import q_rasch_irt

    rows = q_rasch_irt(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r["difficulty"] for r in rows)) < 1e-3  # centered
    by_p = sorted(rows, key=lambda r: r["p_emp"], reverse=True)
    ds = [r["difficulty"] for r in by_p]
    # easier items (higher p) must not be fitted as harder
    for a, b in zip(ds, ds[1:]):
        assert a <= b + 1e-6
    assert all(r["n_trials"] > 0 for r in rows)


def test_sampled_mbr_agrees_with_exact_on_small_groups(spark, sf_dir):
    """When the panel covers the whole group (n ≤ k), the sampled
    winner must equal the exact winner — the twin's consistency
    anchor. At sf0.01 groups have 5 candidates ≤ panel size 8, so the
    winners must agree everywhere."""
    from kafka_stream_spark.plans.round9b import q_mbr_select
    from kafka_stream_spark.plans.round9c import q_mbr_select_sampled

    exact = {r["prompt_id"]: r["doc_id"] for r in q_mbr_select(spark, sf_dir).collect()}
    samp = {
        r["prompt_id"]: r["doc_id"]
        for r in q_mbr_select_sampled(spark, sf_dir).collect()
    }
    assert exact == samp


def test_sampled_self_bleu_tracks_exact(spark, sf_dir):
    """With full-coverage panels (n ≤ k) the sampled self-BLEU equals
    the exact one per prompt."""
    from kafka_stream_spark.plans.round9b import q_self_bleu
    from kafka_stream_spark.plans.round9c import q_self_bleu_sampled

    exact = {
        r["prompt_id"]: r["self_bleu"] for r in q_self_bleu(spark, sf_dir).collect()
    }
    samp = {
        r["prompt_id"]: r["self_bleu"]
        for r in q_self_bleu_sampled(spark, sf_dir).collect()
    }
    assert set(exact) == set(samp)
    for p in exact:
        assert abs(exact[p] - samp[p]) < 1e-9, p
