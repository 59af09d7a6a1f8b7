"""Round-11 operator invariants: persisted-index serving, RLHF
telemetry, frequency sketches, stateful folds, reconciliation."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from kafka_stream_spark.plans.round11 import q_ann_ivf_indexed
from kafka_stream_spark.plans.round11b import (
    q_reward_length_bias,
    q_rloo_baseline,
)
from kafka_stream_spark.plans.round11c import q_participation_ratio
from kafka_stream_spark.plans.round11d import (
    q_ams_f2,
    q_space_saving,
    space_saving_fold,
)
from kafka_stream_spark.plans.round11e import q_xor_reconcile
from kafka_stream_spark.plans.round11g import bocpd_fold, q_bocpd


def test_rloo_advantages_zero_sum_per_group(spark, sf_dir):
    """Σ_i (r_i − mean(r_{j≠i})) = Σ r_i − Σ_i (tot−r_i)/(n−1) = 0:
    LOO advantages are exactly zero-sum within every prompt group."""
    rows = q_rloo_baseline(spark, sf_dir).collect()
    by_prompt = {}
    for r in rows:
        by_prompt.setdefault(r["prompt_id"], []).append(r["advantage"])
    assert by_prompt
    for pid, advs in by_prompt.items():
        assert abs(sum(advs)) < 1e-6 * max(1.0, max(abs(a) for a in advs))


def test_reward_length_bias_detects_planted_coupling(spark, sf_dir):
    """The synthetic rewards carry +0.2·ln(1+len): the audit must
    report a clearly positive length correlation."""
    rows = q_reward_length_bias(spark, sf_dir).collect()
    assert len(rows) == 10
    assert rows[0]["len_reward_corr"] > 0.1


def test_participation_ratio_bounds(spark, sf_dir):
    """1 ≤ PR ≤ d by Cauchy-Schwarz on the eigenvalue vector."""
    rows = q_participation_ratio(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r["participation_ratio"] <= 16.0
        assert abs(r["pr_fraction"] - r["participation_ratio"] / 16) < 1e-6


def test_ams_f2_estimator_near_exact(spark, sf_dir):
    """Median-of-means over 32 sign estimators lands within a loose
    multiplicative band of the exact F2 (Chebyshev-grade, not tight)."""
    rows = q_ams_f2(spark, sf_dir).collect()
    assert len(rows) == 8
    ratio = rows[0]["est_over_exact"]
    assert 0.2 < ratio < 5.0


def test_space_saving_bound_holds_everywhere(spark, sf_dir):
    """Metwally Thm 3.1: true count ∈ [est − overcount, est] for every
    reported item — the query's within_bound column must be all-1."""
    rows = q_space_saving(spark, sf_dir).collect()
    assert rows
    assert all(r["within_bound"] == 1 for r in rows)


def test_space_saving_fold_recount():
    """The fold against a brute-force recount on a known stream: the
    total of counters equals the stream length (Space-Saving invariant)
    and every surviving exact-majority item is reported."""
    stream = [1, 2, 1, 3, 1, 4, 5, 1, 2, 6, 1, 7, 1, 2] * 10
    items, counts, errs = space_saving_fold(iter(stream), k=4)
    assert sum(counts) == len(stream)
    exact = Counter(stream)
    # the heaviest item always survives with count >= its true frequency
    heavy, f = exact.most_common(1)[0]
    assert heavy in items
    i = items.index(heavy)
    assert counts[i] >= f
    assert counts[i] - errs[i] <= f


def test_bocpd_fold_posterior_properties():
    """Posterior stays normalized (Σ ≈ 1e9 after half-up rounding) and
    a hard regime flip moves majority mass to short run lengths."""
    # 60 zeros then 60 ones: after the flip the run-length posterior
    # should concentrate low, having detected the change
    xs = [0] * 60 + [1] * 60
    mass, ns, ones, cp = bocpd_fold(iter(xs), r=8, h=20)
    assert abs(sum(mass) - 10**9) <= 8  # half-up rounding slack
    assert cp >= 1  # the flip produced at least one majority-cp step
    # fold a pure stream: mass should sit in the capped slot
    mass2, _, _, cp2 = bocpd_fold(iter([1] * 100), r=8, h=20)
    assert mass2[-1] == max(mass2)


def test_bocpd_query_matches_fold(spark, sf_dir):
    """The registered query's per-group state equals a driver-side
    replay of the same fold on the same ordered stream."""
    from kafka_stream_spark.plans.round11g import (
        _BOCPD_GATE_STEPS,
        _BOCPD_THRESH,
    )
    from kafka_stream_spark.sources.tables import load

    rows = q_bocpd(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r["event_type"], {})[r["run_slot"]] = (
            r["posterior"],
            r["cp_steps"],
        )
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "value", "ts", "event_id")
        .collect()
    )
    by_type = {}
    for r in sorted(ev, key=lambda r: (r["ts"], r["event_id"])):
        by_type.setdefault(r["event_type"], []).append(
            1 if r["value"] > _BOCPD_THRESH else 0
        )
    for et, xs in by_type.items():
        mass, ns, ones, cp = bocpd_fold(iter(xs[:_BOCPD_GATE_STEPS]))
        for slot, m in enumerate(mass):
            post, cps = got[et][slot]
            assert abs(post - round(m / 1e9, 6)) < 1e-9
            assert cps == cp


def test_xor_reconcile_all_consistent(spark, sf_dir):
    """Full-scan and slice-composed digests agree on every bucket."""
    rows = q_xor_reconcile(spark, sf_dir).collect()
    assert rows
    assert all(r["consistent"] == 1 for r in rows)


def test_ann_ivf_indexed_serves_from_disk(spark, sf_dir):
    """Two runs return identical results and the second run does not
    rewrite the persisted index (mtime check on the shared dir)."""
    import os

    from kafka_stream_spark.plans.round11 import ensure_embedding_index

    r1 = sorted(map(tuple, q_ann_ivf_indexed(spark, sf_dir).collect()))
    idx = ensure_embedding_index(spark, sf_dir)
    mt = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, files in os.walk(idx)
        for f in files
    }
    r2 = sorted(map(tuple, q_ann_ivf_indexed(spark, sf_dir).collect()))
    assert r1 == r2 and r1
    mt2 = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, files in os.walk(idx)
        for f in files
    }
    assert mt2 == mt


def test_bocpd_store_crash_resume_and_parity(spark, tmp_path):
    """X761 streaming face: the BOCPD store is order-dependent (a
    posterior vector + prev-MAP carry), so exactly-once rests on the
    versioned replay protocol, not associativity. Both crash windows
    on the exported batch fn, then the incremental ≡ batch identity
    against a cap-free driver-side fold over all events."""
    import os

    from kafka_stream_spark.plans.round11g import (
        _BOCPD_THRESH,
        bocpd_fold,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        bocpd_state_fold,
        bocpd_from_store,
        merged_store_read,
        versioned_fold_batch_fn,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    cut = events.selectExpr(
        "percentile_approx(ts, 0.5) AS c"
    ).collect()[0]["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0

    store = str(tmp_path / "bocpd")
    fold = versioned_fold_batch_fn(store, bocpd_state_fold)

    def snap():
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, store).collect()
        )

    fold(wave1, 0)
    s1 = snap()

    fold(wave2, 1)
    s2_good = snap()
    assert s2_good != s1
    os.remove(os.path.join(store, f"v={1:012d}", "_SUCCESS"))
    assert snap() == s1  # reader fell back to committed v=0

    fold(wave2, 1)  # resume re-fold from v=0 state
    assert snap() == s2_good

    fold(wave2, 1)  # committed-batch replay → guarded no-op
    assert snap() == s2_good

    # incremental ≡ batch: store state equals one cap-free fold over
    # ALL events in (ts, event_id) order
    got = {
        tuple(r)
        for r in bocpd_from_store(
            merged_store_read(spark, store)
        ).collect()
    }
    rows = events.select("event_type", "value", "ts", "event_id").collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["event_id"])):
        by_type.setdefault(r["event_type"], []).append(
            1 if r["value"] > _BOCPD_THRESH else 0
        )
    want = set()
    for et, xs in by_type.items():
        mass, ns, ones, cp = bocpd_fold(iter(xs))
        for slot in range(len(mass)):
            want.add(
                (et, slot, round(mass[slot] / 1e9, 6), ns[slot],
                 ones[slot], cp)
            )
    assert got == want


def test_space_saving_store_crash_resume_and_parity(spark, tmp_path):
    """X755 streaming face: counter slots persist across batches; both
    crash windows on the exported batch fn; then incremental ≡ batch
    against a cap-free fold over all events in stream order."""
    import os

    from kafka_stream_spark.plans.round11d import (
        _SS_K,
        _SS_MOD,
        space_saving_fold,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        merged_store_read,
        space_saving_state_fold,
        space_saving_from_store,
        versioned_fold_batch_fn,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    cut = events.selectExpr(
        "percentile_approx(ts, 0.5) AS c"
    ).collect()[0]["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0

    store = str(tmp_path / "ss")
    fold = versioned_fold_batch_fn(store, space_saving_state_fold)

    def snap():
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, store).collect()
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
    fold(wave2, 1)  # committed replay → no-op
    assert snap() == s2_good

    got = {
        tuple(r)
        for r in space_saving_from_store(
            merged_store_read(spark, store)
        ).collect()
    }
    rows = events.select(
        "event_type", "user_id", "ts", "event_id"
    ).collect()
    by_type = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["event_id"])):
        by_type.setdefault(r["event_type"], []).append(
            int(r["user_id"]) % _SS_MOD
        )
    want = set()
    for et, xs in by_type.items():
        items, counts, errs = space_saving_fold(iter(xs), _SS_K)
        for i, c, e2 in zip(items, counts, errs):
            want.add((et, i, c, e2))
    assert got == want


def test_dgim_fold_invariants():
    """DGIM state invariants on a long random-ish (hash-derived)
    stream: ≤2 buckets per size class, sizes are powers of two,
    timestamps strictly ascending, estimate within the 50% bound of
    the true window count at every checkpoint."""
    import hashlib

    from kafka_stream_spark.plans.round11i import (
        _DGIM_N,
        dgim_estimate,
        dgim_fold,
    )

    xs = [
        1 if int(hashlib.md5(f"dg{t}".encode()).hexdigest()[:4], 16) % 3
        else 0
        for t in range(1200)
    ]
    state = ([], [], 0)
    for chunk_start in range(0, 1200, 200):
        chunk = xs[chunk_start : chunk_start + 200]
        bts, bsz, t = dgim_fold(iter(chunk), state=state)
        state = (bts, bsz, t)
        from collections import Counter

        cnt = Counter(bsz)
        assert all(v <= 2 for v in cnt.values()), cnt
        assert all(z & (z - 1) == 0 for z in bsz)  # powers of two
        assert bts == sorted(bts) and len(set(bts)) == len(bts)
        exact = sum(xs[max(0, t - _DGIM_N) : t])
        est = dgim_estimate(bsz)
        assert abs(est - exact) * 2 <= exact or est == exact
    # resumable fold == one-shot fold
    one = dgim_fold(iter(xs))
    assert (state[0], state[1], state[2]) == one


def test_dgim_query_bound(spark, sf_dir):
    rows = __import__(
        "kafka_stream_spark.plans.round11i", fromlist=["q_dgim"]
    ).q_dgim(spark, sf_dir).collect()
    assert rows
    assert all(r["within_bound"] == 1 for r in rows)


def test_james_stein_shrinks_toward_grand_mean(spark, sf_dir):
    from kafka_stream_spark.plans.round11j import q_james_stein

    rows = q_james_stein(spark, sf_dir).collect()
    assert rows
    b = rows[0]["shrink_weight"]
    assert 0.0 <= b <= 1.0
    mles = [r["mle_mean"] for r in rows]
    gmean = sum(mles) / len(mles)
    for r in rows:
        # js estimate lies between the MLE and (approximately) the
        # grand mean of group means
        lo, hi = sorted((r["mle_mean"], gmean))
        assert lo - 0.05 <= r["js_mean"] <= hi + 0.05


def test_hampel_filter_invariants(spark, sf_dir):
    from kafka_stream_spark.plans.round11j import q_hampel

    rows = q_hampel(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["is_outlier"]:
            assert r["filtered"] == r["rolling_median"]
        else:
            assert r["filtered"] == r["y"]


def test_renyi_spectrum_monotone(spark, sf_dir):
    """Rényi entropy is non-increasing in α: H0 >= H1 >= H2 >= Hinf."""
    from kafka_stream_spark.plans.round11j import q_renyi_entropy

    r = q_renyi_entropy(spark, sf_dir).collect()[0]
    assert (
        r["h0_hartley"] + 1e-9
        >= r["h1_shannon"] + 1e-9
        >= r["h2_collision"] + 1e-9
        >= r["hinf_min"]
    )


def test_ann_ivf_recall_range(spark, sf_dir):
    from kafka_stream_spark.plans.round11j import q_ann_ivf_recall

    r = q_ann_ivf_recall(spark, sf_dir).collect()[0]
    assert 0.0 < r["recall_at_5"] <= 1.0
    assert r["n_hits"] <= r["n_queries"] * 5
