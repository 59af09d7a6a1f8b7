"""Semantic invariants for the round-9 continuation batch (X681–X684)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_spark.functions import text as _text
from kafka_stream_spark.plans.round9b import (
    _MBR_MOD,
    _RFT_M,
    _SPEC_GAMMA,
    q_chrf_score,
    q_mbr_select,
    q_rft_select,
    q_speculative_accept,
)
from kafka_stream_spark.sources.tables import load


def test_speculative_alpha_in_unit_interval_and_block_efficiency(spark, sf_dir):
    rows = q_speculative_accept(spark, sf_dir).collect()
    assert rows, "at least one language"
    for r in rows:
        assert 0.0 <= r["alpha"] <= 1.0
        # block efficiency of a γ-token draft is within [1, γ+1]
        assert 1.0 <= r["block_efficiency"] <= _SPEC_GAMMA + 1
        # geometric-sum consistency at the reported rounding
        a = r["alpha"]
        expect = 1 + a + a**2 + a**3 + a**4
        assert abs(r["block_efficiency"] - expect) < 5e-5


def test_speculative_bigram_target_never_worse_than_half(spark, sf_dir):
    """Observed bigrams have p(w2|w1) ≥ 1/c1 > 0; with the draft being
    the marginal unigram of the SAME corpus, acceptance of the argmax
    continuation is high — sanity floor only (α > 0)."""
    rows = q_speculative_accept(spark, sf_dir).collect()
    assert all(r["alpha"] > 0.0 for r in rows)


def test_mbr_winner_is_argmax_of_mean_jaccard(spark, sf_dir):
    """Recompute the consensus score for one prompt group in pure
    Python and confirm the winner matches."""
    sel = {r["prompt_id"]: r for r in q_mbr_select(spark, sf_dir).collect()}
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", _text.tokens(F.col("text")).alias("t"))
        .collect()
    )
    group = {r["doc_id"]: set(r["t"]) for r in docs if r["doc_id"] % _MBR_MOD == 7}
    assert len(group) >= 2
    best = None
    for a, ta in group.items():
        # replicate the micro-unit quantization: per-pair half-up, then
        # half-up of the integer mean
        j6s = [
            (2 * 1000000 * len(ta & tb) + len(ta | tb)) // (2 * len(ta | tb))
            for b, tb in group.items()
            if b != a
        ]
        micro = (2 * sum(j6s) + len(j6s)) // (2 * len(j6s))
        key = (-micro, a)
        if best is None or key < best[0]:
            best = (key, a, micro)
    assert sel[7]["doc_id"] == best[1]
    assert abs(sel[7]["mbr_score"] - best[2] / 1e6) < 1e-12
    assert sel[7]["n_candidates"] == len(group)


def test_chrf_identical_text_scores_near_one(spark, sf_dir):
    """chrF of a candidate against itself is exactly 1; against its
    group reference it is in [0, 1] and equals the reduced integer
    ratio 5·ov/(4·tr+tc) averaged over n."""
    rows = q_chrf_score(spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r["chrf"] <= 1.0 for r in rows)
    # every non-reference doc of every prompt group is scored
    n_docs = load(spark, sf_dir, "documents").count()
    n_groups = (
        load(spark, sf_dir, "documents")
        .select((F.col("doc_id") % _MBR_MOD).alias("p"))
        .distinct()
        .count()
    )
    assert len(rows) == n_docs - n_groups
    # candidates never score against themselves
    assert all(r["cand_id"] != r["ref_id"] for r in rows)


def test_rft_caps_and_path_dedup(spark, sf_dir):
    rows = q_rft_select(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_kept"] <= _RFT_M
        # the cap binds exactly: kept = min(m, available distinct paths)
        assert r["n_kept"] == min(_RFT_M, r["n_paths"])


def test_rft_kept_rewards_clear_the_bar(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    bar = e.agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count("*"))
        ).alias("m")
    ).collect()[0]["m"]
    rows = q_rft_select(spark, sf_dir).collect()
    # mean kept reward per prompt can't be below the correctness bar
    assert all(r["mean_reward"] >= bar - 1e-9 for r in rows)


def test_streaming_elo_incremental_equals_batch(spark, tmp_path):
    """X686: the versioned Elo store, read through elo_from_store,
    must equal the batch q_elo_ratings on events-so-far after every
    wave. Waves are TS-ordered splits (the fold is order-dependent;
    a stream reading an ordered log delivers exactly this). The split
    point is odd per arena somewhere, so the carry row is exercised."""
    from kafka_stream_spark.plans.round9b import elo_ratings_df
    from kafka_stream_spark.streaming.pipeline import (
        elo_from_store,
        merged_store_read,
        run_streaming_elo,
    )
    from kafka_stream_spark.sources.tables import load

    events = load(spark, "/root/testdata/sf0.001", "events")
    cut = events.selectExpr(
        "percentile_approx(ts, 0.5) AS c"
    ).collect()[0]["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0

    inp = str(tmp_path / "in")
    store = str(tmp_path / "elo")
    ckpt = str(tmp_path / "ckpt")

    def store_ratings():
        return {
            tuple(r)
            for r in elo_from_store(merged_store_read(spark, store)).collect()
        }

    def batch_ratings(d):
        return {tuple(r) for r in elo_ratings_df(d).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_elo(spark, inp, store, ckpt).awaitTermination(180)
    assert store_ratings() == batch_ratings(wave1)

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_elo(spark, inp, store, ckpt).awaitTermination(180)
    assert store_ratings() == batch_ratings(events)


def test_elo_zero_sum_conserved(spark, sf_dir):
    """Every Elo update is zero-sum in exact integers, so per arena
    Σ ratings = 8 × 1000.000 points forever."""
    from kafka_stream_spark.plans.round9b import (
        _ELO_INIT,
        _ELO_NP,
        q_elo_ratings,
    )

    rows = q_elo_ratings(spark, sf_dir).collect()
    per = {}
    for r in rows:
        per.setdefault(r["event_type"], 0)
        per[r["event_type"]] += round(r["rating"] * 1000)
    assert per and all(
        v == _ELO_NP * _ELO_INIT for v in per.values()
    ), per


def test_fellegi_sunter_em_separates_m_from_u(spark, sf_dir):
    """After EM the match-class agreement probability for the source
    field must exceed the unmatch-class one (pairs sharing a source
    agree more on everything), probabilities live in (0, 1), and the
    likelihood ratio equals m/u at the quantized precision."""
    from kafka_stream_spark.plans.round9b import q_fellegi_sunter

    rows = {r["name"]: r for r in q_fellegi_sunter(spark, sf_dir).collect()}
    assert set(rows) == {"source", "first_token", "n_chars_bucket"}
    for r in rows.values():
        assert 0.0 < r["m"] < 1.0 and 0.0 < r["u"] < 1.0
        assert 0.0 < r["match_rate"] < 1.0
        assert r["n_pairs"] > 0
        expect_lr = (2 * 1000000 * round(r["m"] * 1000)
                     + round(r["u"] * 1000)) // (2 * round(r["u"] * 1000))
        assert abs(r["lr"] - expect_lr / 1e6) < 1e-9


def test_fellegi_sunter_em_is_exact_integer_replay(spark, sf_dir):
    """The driver-side EM must be the literal integer recurrence: replay
    it from the distributed pattern counts and compare."""
    from kafka_stream_spark.plans.round9b import _fs_em
    from kafka_stream_spark.functions import text as _text
    from kafka_stream_spark.sources.tables import load

    toks = _text.tokens(F.col("text"))
    side = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("n_chars div 50").alias("nb"),
        F.element_at(toks, 1).alias("ft"),
    )
    a = side.filter(F.expr("(doc_id div 20) % 2 = 0"))
    b = side.filter(F.expr("(doc_id div 20) % 2 = 1"))
    pat = (
        a.alias("a")
        .join(b.alias("b"), ["lang"])
        .select(
            (F.col("a.source") == F.col("b.source")).cast("int").alias("b1"),
            (F.col("a.ft") == F.col("b.ft")).cast("int").alias("b2"),
            (F.col("a.nb") == F.col("b.nb")).cast("int").alias("b3"),
        )
        .groupBy("b1", "b2", "b3")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts = [(r["b1"] * 4 + r["b2"] * 2 + r["b3"], r["c"]) for r in pat]
    m1, m2, m3, u1, u2, u3, p = _fs_em(counts)
    from kafka_stream_spark.plans.round9b import q_fellegi_sunter

    rows = {r["field"]: r for r in q_fellegi_sunter(spark, sf_dir).collect()}
    assert round(rows[1]["m"] * 1000) == m1
    assert round(rows[2]["m"] * 1000) == m2
    assert round(rows[3]["u"] * 1000) == u3
    assert round(rows[1]["match_rate"] * 1000) == p


def test_gns_matches_numpy_estimator(spark, sf_dir):
    """B_simple from the integer-moment path must match the numpy
    tr(cov)/|mean|² on the same 1e-4-quantized vectors (population
    covariance), to quantization tolerance."""
    import numpy as np

    from kafka_stream_spark.plans.round9b import (
        _GNS_DIMS,
        _GNS_Q,
        q_grad_noise_scale,
    )
    from kafka_stream_spark.sources.tables import load

    rows = {r["label"]: r for r in q_grad_noise_scale(spark, sf_dir).collect()}
    emb = load(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in emb:
        v = np.round(np.array(r["embedding"][:_GNS_DIMS], dtype=np.float64)
                     * _GNS_Q)
        by_label.setdefault(r["label"], []).append(v)
    for lbl, vecs in by_label.items():
        x = np.stack(vecs)
        tr = x.var(axis=0).sum()          # population variance
        mu2 = (x.mean(axis=0) ** 2).sum()
        got = rows[lbl]
        assert got["n"] == len(vecs)
        assert abs(got["gns"] - tr / mu2) < 2e-3
        assert abs(got["trace_sigma"] - tr / _GNS_Q**2) < 1e-5
        assert abs(got["mu_norm_sq"] - mu2 / _GNS_Q**2) < 1e-5


def test_mojibake_audit_certifies_clean_corpus(spark, sf_dir):
    """The synthetic corpus is pure ASCII: every counter must be zero
    — the audit's clean-bill-of-health path."""
    from kafka_stream_spark.plans.round9b import q_mojibake_audit

    rows = q_mojibake_audit(spark, sf_dir).collect()
    assert rows
    assert all(r["n_mojibake_hits"] == 0 for r in rows)
    assert all(r["n_control_chars"] == 0 for r in rows)
    assert all(r["nonascii_char_ratio"] == 0.0 for r in rows)
    assert all(r["n_nonascii_docs"] == 0 for r in rows)


def test_mojibake_patterns_catch_canonical_corruption(spark):
    """Positive control: the exact patterns the audit scans with must
    fire on canonical corruption — latin-1-decoded UTF-8 ('Ã©', 'â€™'),
    the replacement char, and a stray control byte."""
    from kafka_stream_spark.plans.round9b import (
        _CTRL_RE,
        _MOJI_RE,
        _NONASCII_RE,
    )

    df = spark.createDataFrame(
        [
            ("cafÃ© naÃ¯ve",),      # é / ï double-encoded
            ("donâ€™t stop",),      # ’ double-encoded
            ("lost � here",),      # raw replacement char
            ("enc ï¿½ twice",),     # double-encoded replacement char
            ("ctrl\x07byte",),      # BEL control char
            ("plain ascii",),
        ],
        "t string",
    )
    got = df.select(
        F.sum(F.size(F.regexp_extract_all("t", F.lit(_MOJI_RE), 0))).alias(
            "mj"
        ),
        F.sum(F.size(F.regexp_extract_all("t", F.lit(_CTRL_RE), 0))).alias(
            "ct"
        ),
        F.sum(
            F.size(F.regexp_extract_all("t", F.lit(_NONASCII_RE), 0))
        ).alias("na"),
    ).collect()[0]
    assert got["mj"] == 5  # Ã©, Ã¯, â€™, �, ï¿½
    assert got["ct"] == 1
    assert got["na"] >= 7


def test_crossentropy_decomposition_and_gibbs(spark, sf_dir):
    """CE = H + KL at the quantized precision, KL ≥ 0 (Gibbs), and
    every source's CE is at least its entropy."""
    from kafka_stream_spark.plans.round9b import q_token_crossentropy

    rows = q_token_crossentropy(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["kl_bits"] >= 0.0
        assert (
            abs(r["cross_entropy_bits"] - (r["entropy_bits"] + r["kl_bits"]))
            < 2e-6
        )
        assert r["entropy_bits"] > 0.0
        assert r["n_tokens"] > 0


def test_tracin_self_influence_positive_and_ranked(spark, sf_dir):
    """Top proponents must carry positive influence (they reduce test
    loss along the trajectory), ranks are 1..20 dense, and influence
    is non-increasing in rank."""
    from kafka_stream_spark.plans.round9b import _TI_TOPK, q_tracin_influence

    rows = q_tracin_influence(spark, sf_dir).collect()
    assert [r["rnk"] for r in rows] == list(range(1, _TI_TOPK + 1))
    vals = [r["influence"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert vals[0] > 0
    # anchors (vec_id % 25 == 0) are excluded from the train side
    assert all(r["vec_id"] % 25 != 0 for r in rows)


def test_gae_telescopes_to_discounted_return_when_lambda_one(spark, sf_dir):
    """Structural invariants of the backward fold: every episode's
    advantages sum ~0 when rewards are flat, the terminal advantage is
    exactly δ_T = r_T − V̄, and row count equals the event count."""
    from kafka_stream_spark.plans.round9b import (
        _GAE_Q,
        q_gae_advantage,
    )
    from kafka_stream_spark.sources.tables import load

    rows = q_gae_advantage(spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert len(rows) == n_events
    # per-episode: check terminal step equals r_T − V̄ under the
    # integer quantization (replay the mean)
    import collections

    eps = collections.defaultdict(list)
    for r in rows:
        eps[r["user_id"]].append(r)
    for uid, rs in list(eps.items())[:10]:
        rs.sort(key=lambda r: r["t"])
        cents = [round(r["reward"] * 100) for r in rs]
        v4 = (2 * _GAE_Q * sum(cents) + len(cents)) // (2 * len(cents))
        want_last = (cents[-1] * _GAE_Q - v4) / (_GAE_Q * 100)
        assert abs(rs[-1]["advantage"] - want_last) < 1e-9


def test_streaming_ivm_incremental_equals_batch(spark, tmp_path):
    """X693: the delta-join IVM store must equal the batch join view
    on rows-so-far after every wave — with join pairs deliberately
    split ACROSS waves (orders in wave 1 whose lineitems arrive in
    wave 2, and vice versa) so all three delta terms are exercised."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        ivm_view_from_store,
        run_streaming_ivm,
    )

    o = load(spark, "/root/testdata/sf0.001", "orders").select(
        F.lit("a").alias("side"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
    )
    l = load(spark, "/root/testdata/sf0.001", "lineitem").select(
        F.lit("b").alias("side"),
        F.col("l_orderkey").alias("k"),
        F.col("l_returnflag").alias("attr"),
    )
    # cross-wave pairing: orders split by key % 2, lineitems by key % 3
    w1 = o.filter(F.col("k") % 2 == 0).unionByName(l.filter(F.col("k") % 3 == 0))
    w2 = o.filter(F.col("k") % 2 == 1).unionByName(l.filter(F.col("k") % 3 != 0))

    inp = str(tmp_path / "in")
    store = str(tmp_path / "ivm")
    ckpt = str(tmp_path / "ckpt")

    def batch_view(feed):
        a = feed.filter(F.col("side") == "a").select(
            "k", F.col("attr").alias("priority")
        )
        b = feed.filter(F.col("side") == "b").select(
            "k", F.col("attr").alias("flag")
        )
        return {
            tuple(r)
            for r in a.join(b, "k")
            .groupBy("priority", "flag")
            .agg(F.count("*").cast("long").alias("n_rows"))
            .collect()
        }

    def store_view():
        return {
            tuple(r) for r in ivm_view_from_store(spark, store).collect()
        }

    w1.write.mode("append").parquet(inp)
    assert run_streaming_ivm(spark, inp, store, ckpt).awaitTermination(180)
    assert store_view() == batch_view(w1)

    w2.write.mode("append").parquet(inp)
    assert run_streaming_ivm(spark, inp, store, ckpt).awaitTermination(180)
    assert store_view() == batch_view(w1.unionByName(w2))


def test_infonce_bounds_and_collapse_reference(spark, sf_dir):
    """InfoNCE per anchor is bounded by log(B−1) (uniform similarities
    give exactly log(#negatives+1) ≈ log B); means must land in
    (0, log B) and every batch with ≥2 same-label members reports."""
    import math

    from kafka_stream_spark.plans.round9b import _NCE_B, q_infonce_audit

    rows = q_infonce_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["mean_infonce"] < math.log(_NCE_B) + 0.5
        assert -1.0 <= r["mean_pos_sim"] <= 1.0
        assert 1 <= r["n_anchors"] <= _NCE_B


def test_dp_accounting_monotone_in_releases(spark, sf_dir):
    """More releases ⇒ more privacy spent: ε must be strictly
    increasing in T across sources, and the optimal α decreases or
    holds as T grows (heavier composition favors smaller α)."""
    from kafka_stream_spark.plans.round9b import q_dp_accounting

    rows = sorted(
        q_dp_accounting(spark, sf_dir).collect(),
        key=lambda r: r["n_releases"],
    )
    assert rows
    for a, b in zip(rows, rows[1:]):
        if b["n_releases"] > a["n_releases"]:
            assert b["eps"] > a["eps"]
            assert b["alpha_star"] <= a["alpha_star"]
    # ε matches the closed form at the reported α
    import math

    from kafka_stream_spark.plans.round9b import _DP_DELTA, _DP_SIGMA

    for r in rows[:5]:
        a = r["alpha_star"]
        want = r["n_releases"] * a / (2 * _DP_SIGMA**2) + math.log(
            1 / _DP_DELTA
        ) / (a - 1)
        assert abs(r["eps"] - want) < 1e-5


def test_sinkhorn_identity_is_minimal(spark, sf_dir):
    """OT distance of a distribution to itself under Sinkhorn scaling
    approaches the entropic floor: every per-source distance must be
    ≥ 0, and a source whose mix matches the corpus more closely than
    another must not score (much) higher. Structural bounds only —
    the exact values are pinned by the differential gate."""
    from kafka_stream_spark.plans.round9b import q_sinkhorn_ot

    rows = q_sinkhorn_ot(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r["ot_dist"] >= 0.0 for r in rows)
    assert all(r["ot_dist"] <= 2.0 + 1e-6 for r in rows)  # max ground cost
    assert all(r["n_docs"] > 0 for r in rows)


def test_sinkhorn_integer_fold_marginal_consistency():
    """Pure-unit check of the integer Sinkhorn: with identical
    marginals the transport cost is (near) the entropic floor, and
    with disjoint language mass the cost approaches the language
    mismatch cost 1."""
    from kafka_stream_spark.plans.round9b import _OT_NB, _ot_sinkhorn_int

    nb = 5 * _OT_NB
    a = [0] * nb
    a[0] = 500000
    a[6] = 500000
    same9, _ = _ot_sinkhorn_int(a, list(a))
    b = [0] * nb
    b[10] = 500000  # lang 2 mass only
    b[16] = 500000
    far9, _ = _ot_sinkhorn_int(a, b)
    assert far9 > same9
    assert far9 / 1e9 > 0.5  # language mismatch dominates


def test_topic_coherence_bounds(spark, sf_dir):
    """NPMI lives in [−1, 1]; each topic reports all 45 pairs of its
    top-10 words."""
    from kafka_stream_spark.plans.round9b import _TC_TOPW, q_topic_coherence

    rows = q_topic_coherence(spark, sf_dir).collect()
    assert rows
    want_pairs = _TC_TOPW * (_TC_TOPW - 1) // 2
    for r in rows:
        assert r["n_pairs"] == want_pairs
        assert -1.0 <= r["coherence"] <= 1.0


def test_self_bleu_bounds_and_self_identity(spark, sf_dir):
    """Pairwise BLEU lives in [0, 1]; a group's self-BLEU cannot
    exceed 1 and every prompt group reports all ordered pairs."""
    from kafka_stream_spark.plans.round9b import q_self_bleu

    rows = q_self_bleu(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["self_bleu"] <= 1.0
        n = (1 + (1 + 4 * r["n_pairs"]) ** 0.5) / 2  # n(n-1) = pairs
        assert abs(n - round(n)) < 1e-9  # ordered-pair count is n(n-1)


def test_spectral_cut_partitions_and_conductance(spark, sf_dir):
    """The sign cut must produce two non-empty sides whose volumes sum
    to the total edge volume, cut conductance in (0, 1], and the cut
    count bounded by the cut volume."""
    from kafka_stream_spark.plans.round9b import q_spectral_cut

    r = q_spectral_cut(spark, sf_dir).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert r["cut_edges"] > 0
    assert 0.0 < r["conductance"] <= 1.0
    assert r["cut_edges"] <= min(r["vol_a"], r["vol_b"])


def test_exchange_reuse_for_self_joined_aggregate(spark, sf_dir):
    """A self-join of one aggregated subquery must reuse the shuffle
    exchange (ReusedExchange in the physical plan), not recompute the
    aggregation twice — the plan property that makes diff-vs-total
    patterns (share-of-total, mix-shift) affordable at 100 TB."""
    from kafka_stream_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(F.count("*").alias("n"))
    joined = agg.alias("a").join(agg.alias("b"), "event_type").selectExpr(
        "event_type", "a.n + b.n AS nn"
    )
    joined.collect()  # AQE finalizes reuse only at execution
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:2000]


def test_aqe_splits_skewed_join_partitions(spark):
    """Under AQE with low skew thresholds, a sort-merge join against a
    deliberately skewed key distribution must get the skew-join split
    (SortMergeJoin(skew=true) / 'skewed' shuffle reads in the final
    plan) — the runtime answer to hot keys at scale. Conf note:
    sources.tables.load() re-pins RUNTIME_CONFS, so the overrides are
    applied AFTER any load() call and restored in finally."""
    conf = spark.conf
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    old = {}
    for k in keys:
        try:
            old[k] = conf.get(k)
        except Exception:
            old[k] = None
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "10KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pay"),
        )
        right = spark.range(0, 1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("rid")
        )
        j = left.join(right.hint("merge"), "k").select(
            F.count("*").alias("n")
        )
        assert j.collect()[0]["n"] > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "skewed" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_group_dro_weights_normalize_and_order(spark, sf_dir):
    """DRO weights must sum to 1 (quantized) and be monotone in group
    mean loss — the defining property of the exponential reweighting."""
    from kafka_stream_spark.plans.round9b import q_group_dro

    rows = q_group_dro(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["dro_weight"] for r in rows) - 1.0) < 1e-4
    by_loss = sorted(rows, key=lambda r: r["mean_loss"])
    ws = [r["dro_weight"] for r in by_loss]
    assert ws == sorted(ws)


def test_infinigram_backoff_and_probability(spark, sf_dir):
    """Every probe resolves at some suffix length with a valid
    continuation; probabilities are in (0, 1]; and any probe whose
    3-token context occurs in the corpus (they all do — probes are
    drawn FROM the corpus) must match at the full suffix length 3."""
    from kafka_stream_spark.plans.round9b import q_infinigram

    rows = q_infinigram(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["suffix_len"] in (1, 2, 3)
        assert r["next_token"]
        assert 0.0 < r["prob"] <= 1.0
        assert r["cnt"] >= 1
    # probe contexts are substrings of corpus docs ⇒ the 3-token
    # suffix always exists in the 4-gram table
    assert all(r["suffix_len"] == 3 for r in rows)
