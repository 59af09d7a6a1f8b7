"""Round-9 continuation batch (X681+): inference-efficiency and
data-curation operators for LLM training pipelines.

Reference scope note: the reference pipeline (kafka_s.py) has no text
or candidate-selection surface; these are §2.13 mandate extensions,
reference-free by design.

- X681 q_speculative_accept: speculative-decoding acceptance-rate
  estimator (Leviathan et al. 2023) — draft = corpus unigram LM,
  target = corpus bigram LM; per-language expected acceptance and
  block efficiency for a draft length of 4.
- X682 q_mbr_select: Minimum-Bayes-Risk candidate selection
  (Kumar & Byrne 2004; Bertsch et al. 2023 for LLM sampling) — per
  prompt group pick the candidate maximizing mean token-set Jaccard
  against the other candidates (the consensus sample).
- X683 q_chrf_score: chrF (Popović 2015) character n-gram F2 score
  of each candidate against its prompt group's reference.
- X684 q_rft_select: rejection-sampling fine-tuning dataset builder
  (RFT, Yuan et al. 2023) — per prompt keep correct samples deduped
  by reasoning-path fingerprint, capped at m per prompt.
- X685 q_elo_ratings / X686 run_streaming_elo: order-dependent
  integer Elo fold (Bradley-Terry link) + its versioned store.
- X687 q_fellegi_sunter: EM-fitted probabilistic record linkage.
- X688 q_grad_noise_scale: critical-batch-size estimator as one
  integer ratio on quantized vectors.
- X689 q_mojibake_audit / X690 q_token_crossentropy: encoding
  corruption triage and vocabulary-level domain shift.
- X691 q_tracin_influence: checkpoint-gradient influence along an
  exact-integer GD trajectory.
- X692 q_gae_advantage: backward GAE fold (PPO advantages).
- X693 q_ivm_join_view (+ run_streaming_ivm): delta-join incremental
  view maintenance.
- X694 q_infonce_audit, X695 q_dp_accounting (+X696 its
  ``DP_LEDGER`` store spec), X697 q_sinkhorn_ot, X698 q_topic_coherence,
  X699 q_self_bleu, X700 q_spectral_cut, X701 q_group_dro,
  X702 q_infinigram.

Determinism discipline (gate contract): ratios of small integers land
on decimal ties (x.xxxxxx5) with high probability, where Spark's
BigDecimal-HALF-UP round and DuckDB's double round diverge — so every
ratio here is quantized to micro-units via EXACT integer half-up
division ``(2·A + B) div (2·B)`` (= round-half-up(A/B) for A,B ≥ 0),
summed as associative BIGINTs, and converted to DOUBLE only once at
the very end by the bit-identical ``micro / 1e6`` division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as _text
from ..functions.hashing import token_hash, token_hash_sql
from ..session import default_parallelism
from ..sources.dims import local_frame
from ..sources.tables import load
from ..streaming.pipeline import Cells, StoreSpec
from .registry import query

_MICRO = 1000000


def _half_up_sql(num: str, den: str) -> str:
    """DuckDB round-half-up(num/den) as exact BIGINT arithmetic."""
    return f"((2 * ({num}) + ({den})) // (2 * ({den})))"


def _half_up_col(num: str, den: str) -> F.Column:
    """Spark twin of :func:`_half_up_sql` (`div` = integral division)."""
    return F.expr(f"(2 * ({num}) + ({den})) div (2 * ({den}))")


# ---------------------------------------------------------------------------
# X681 — speculative-decoding acceptance-rate estimator
# ---------------------------------------------------------------------------

_SPEC_GAMMA = 4  # draft length (tokens proposed per target pass)

# acceptance ratio p/q = (cb/c1)/(cu/n) = cb·n / (c1·cu) — one integer ratio
_SPEC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_text.tokens_sql('text')} AS t FROM documents),
    uni AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT lang, unnest(t) AS w FROM toks)
      GROUP BY lang, w),
    nl AS (
      SELECT lang, sum(cu) AS n FROM uni GROUP BY lang),
    bg AS (
      SELECT lang, t[i + 1] AS w1, t[i + 2] AS w2,
             CAST(count(*) AS BIGINT) AS cb
      FROM (SELECT lang, t, unnest(range(len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)
      GROUP BY 1, 2, 3),
    pre AS (
      SELECT lang, w1, sum(cb) AS c1 FROM bg GROUP BY lang, w1),
    terms AS (
      SELECT b.lang, b.cb,
             least({_MICRO},
                   {_half_up_sql(f'{_MICRO} * b.cb * n.n', 'p.c1 * u.cu')})
               AS a6
      FROM bg b
      JOIN pre p ON p.lang = b.lang AND p.w1 = b.w1
      JOIN uni u ON u.lang = b.lang AND u.w = b.w2
      JOIN nl n ON n.lang = b.lang),
    agg AS (
      SELECT lang, sum(cb) AS nb, sum(a6 * cb) AS s6
      FROM terms GROUP BY lang),
    am AS (
      SELECT lang, nb, {_half_up_sql('s6', 'nb')} AS a_micro FROM agg),
    al AS (
      SELECT lang, nb, a_micro / 1000000.0 AS alpha FROM am)
    SELECT lang, CAST(nb AS BIGINT) AS n_bigrams,
           round(alpha, 6) AS alpha,
           round(1.0 + alpha + alpha * alpha
                 + alpha * alpha * alpha
                 + alpha * alpha * alpha * alpha, 6) AS block_efficiency
    FROM al ORDER BY lang
    """


@query("q_speculative_accept", oracle=_SPEC_ORACLE)
def q_speculative_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X681 — speculative-decoding acceptance estimator (Leviathan et
    al. 2023): with a draft model q and target model p, each proposed
    token is accepted with probability min(1, p/q); the corpus-level
    acceptance rate α determines block efficiency — the expected
    number of tokens emitted per target forward pass with draft
    length γ is (1 − α^(γ+1)) / (1 − α) = 1 + α + … + α^γ. Here the
    draft is the corpus unigram LM and the target the corpus bigram
    MLE (the classic "weaker model of the same corpus" pairing), so
    p/q collapses to the single integer ratio cb·N / (c1·cu), and α
    is measured per language over every bigram occurrence.

    Determinism: per-bigram-type acceptance is quantized to micro
    units by exact integer half-up division, count-weighted, and
    summed as BIGINTs; block efficiency is the γ-term geometric sum
    written in the same association order in both engines.

    Scale: token/bigram counts are map-side-combinable groupBys keyed
    by (lang, gram); the terms join is keyed by the same grams —
    skew-bounded by Zipf head tokens, which AQE's skew-join handles;
    output is one row per language. (The micro numerator cb·N stays
    under 2^63 up to ~10^12 tokens/lang; beyond that, rescale to a
    coarser quantum — a constant, not a design change.)"""
    toks = load(spark, sf_dir, "documents").select(
        "lang", _text.tokens(F.col("text")).alias("t")
    )
    uni = (
        toks.select("lang", F.explode("t").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cu"))
    )
    nl = uni.groupBy("lang").agg(F.sum("cu").alias("n"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .groupBy("lang", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count("*").alias("cb"))
    )
    pre = bg.groupBy("lang", "w1").agg(F.sum("cb").alias("c1"))
    terms = (
        bg.join(pre, ["lang", "w1"])
        .join(uni.select("lang", F.col("w").alias("w2"), "cu"), ["lang", "w2"])
        .join(nl, "lang")
        .select(
            "lang",
            "cb",
            F.least(
                F.lit(_MICRO).cast("long"),
                _half_up_col(f"{_MICRO} * cb * n", "c1 * cu"),
            ).alias("a6"),
        )
    )
    am = terms.groupBy("lang").agg(
        F.sum("cb").cast("long").alias("nb"),
        _half_up_col("sum(a6 * cb)", "sum(cb)").alias("a_micro"),
    )
    a = F.col("a_micro") / F.lit(1000000.0)
    return am.select(
        "lang",
        F.col("nb").alias("n_bigrams"),
        F.round(a, 6).alias("alpha"),
        F.round(1.0 + a + a * a + a * a * a + a * a * a * a, 6).alias(
            "block_efficiency"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# X682 — Minimum-Bayes-Risk candidate selection
# ---------------------------------------------------------------------------

_MBR_MOD = 100  # prompt group = doc_id % _MBR_MOD

_MBR_ORACLE = f"""
    WITH cand AS (
      SELECT doc_id, doc_id % {_MBR_MOD} AS prompt_id,
             list_distinct({_text.tokens_sql('text')}) AS ts
      FROM documents),
    pair AS (
      SELECT a.prompt_id, a.doc_id,
             {_half_up_sql(
                 f'{_MICRO} * len(list_intersect(a.ts, b.ts))',
                 'len(list_distinct(list_concat(a.ts, b.ts)))')} AS j6
      FROM cand a JOIN cand b
        ON a.prompt_id = b.prompt_id AND a.doc_id <> b.doc_id),
    sc AS (
      SELECT prompt_id, doc_id,
             {_half_up_sql('sum(j6)', 'count(*)')} AS s_micro,
             CAST(count(*) + 1 AS BIGINT) AS n_candidates
      FROM pair GROUP BY prompt_id, doc_id),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s_micro DESC, doc_id) AS rn
      FROM sc)
    SELECT CAST(prompt_id AS BIGINT) AS prompt_id, doc_id,
           s_micro / 1000000.0 AS mbr_score, n_candidates
    FROM r WHERE rn = 1 ORDER BY prompt_id
    """


@query("q_mbr_select", oracle=_MBR_ORACLE)
def q_mbr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X682 — Minimum-Bayes-Risk output selection (Kumar & Byrne
    2004; the sampling-based LLM variant of Bertsch et al. 2023):
    within each prompt group the winner is the candidate with the
    highest MEAN similarity to every other candidate — the consensus
    sample, which beats single-sample decoding and underlies
    self-consistency voting when answers are free-form. Similarity
    is token-set Jaccard (the standard lexical MBR utility when no
    learned metric is available), quantized per pair to micro units
    by exact integer half-up division and mean-reduced the same way,
    so ranking and output are engine-independent.

    Scale: the pairwise join is GROUP-LOCAL (prompt_id equi-join) —
    n_candidates² per prompt, never corpus²; candidates-per-prompt is
    fixed by the sampler (n of best-of-n), so the pair count grows
    linearly in prompts. One shuffle on prompt_id, one window."""
    # hash-partition by the prompt key FIRST (full width, user-pinned so
    # AQE cannot coalesce), THEN tokenize and materialize: the group-
    # local pair join below reuses the partitioning on both sides, so
    # the n²-per-prompt array_intersect/union work — the query's whole
    # cost — runs on every core and the tokenization happens once
    # instead of twice (guide §2.4/§2.6)
    cand = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % _MBR_MOD).alias("prompt_id"),
            "text",
        )
        .repartition(default_parallelism(), "prompt_id")
        .select(
            "doc_id",
            "prompt_id",
            F.array_distinct(_text.tokens(F.col("text"))).alias("ts"),
        )
        .localCheckpoint(eager=True)
    )
    a = cand.alias("a")
    b = cand.select(
        "prompt_id",
        F.col("doc_id").alias("doc_id_b"),
        F.col("ts").alias("ts_b"),
    )
    pair = (
        a.join(b, "prompt_id")
        .filter(F.col("a.doc_id") != F.col("doc_id_b"))
        .select(
            "prompt_id",
            F.col("a.doc_id").alias("doc_id"),
            F.size(F.array_intersect(F.col("a.ts"), F.col("ts_b"))).alias("ii"),
            F.size(F.array_union(F.col("a.ts"), F.col("ts_b"))).alias("uu"),
        )
        .select(
            "prompt_id",
            "doc_id",
            _half_up_col(f"{_MICRO} * ii", "uu").alias("j6"),
        )
    )
    sc = pair.groupBy("prompt_id", "doc_id").agg(
        _half_up_col("sum(j6)", "count(*)").alias("s_micro"),
        (F.count("*") + 1).cast("long").alias("n_candidates"),
    )
    w = W.partitionBy("prompt_id").orderBy(F.desc("s_micro"), "doc_id")
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("prompt_id").cast("long").alias("prompt_id"),
            "doc_id",
            (F.col("s_micro") / F.lit(1000000.0)).alias("mbr_score"),
            "n_candidates",
        )
        .orderBy("prompt_id")
    )


# ---------------------------------------------------------------------------
# X683 — chrF character n-gram F2 score
# ---------------------------------------------------------------------------

# chrF_n = (1+β²)·P·R / (β²·P + R) with P = ov/tc, R = ov/tr and β = 2
# collapses to the single integer ratio 5·ov / (4·tr + tc).
_CHRF_NS = (1, 2)


def _chargrams_sql(expr: str, n: int) -> str:
    return (
        f"list_transform(range(length({expr}) - {n - 1}), "
        f"i -> substr({expr}, CAST(i + 1 AS INT), {n}))"
    )


_CHRF_ORACLE = f"""
    WITH refpick AS (
      SELECT doc_id % {_MBR_MOD} AS prompt_id, min(doc_id) AS ref_id
      FROM documents GROUP BY 1),
    grams AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, 1 AS n, unnest({_chargrams_sql('text', 1)}) AS g
        FROM documents
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_chargrams_sql('text', 2)}) AS g
        FROM documents WHERE length(text) >= 2)
      GROUP BY doc_id, n, g),
    tot AS (
      SELECT doc_id, n, sum(c) AS t FROM grams GROUP BY doc_id, n),
    pairs AS (
      SELECT d.doc_id AS cand_id, r.prompt_id, r.ref_id
      FROM documents d
      JOIN refpick r ON d.doc_id % {_MBR_MOD} = r.prompt_id
      WHERE d.doc_id <> r.ref_id),
    ov AS (
      SELECT p.cand_id, cg.n, sum(least(cg.c, rg.c)) AS ov
      FROM pairs p
      JOIN grams cg ON cg.doc_id = p.cand_id
      JOIN grams rg ON rg.doc_id = p.ref_id
        AND rg.n = cg.n AND rg.g = cg.g
      GROUP BY p.cand_id, cg.n),
    fm AS (
      SELECT p.cand_id, p.prompt_id, p.ref_id,
             {_half_up_sql('5 * 1000000 * coalesce(o.ov, 0)',
                           '4 * tr.t + tc.t')} AS m
      FROM pairs p
      JOIN tot tc ON tc.doc_id = p.cand_id
      JOIN tot tr ON tr.doc_id = p.ref_id AND tr.n = tc.n
      LEFT JOIN ov o ON o.cand_id = p.cand_id AND o.n = tc.n)
    SELECT cand_id, CAST(prompt_id AS BIGINT) AS prompt_id, ref_id,
           {_half_up_sql('sum(m)', 'count(m)')} / 1000000.0 AS chrf
    FROM fm GROUP BY cand_id, prompt_id, ref_id
    ORDER BY cand_id
    """


@query("q_chrf_score", oracle=_CHRF_ORACLE)
def q_chrf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X683 — chrF (Popović 2015): character n-gram F-score with
    recall weighted β=2 — the tokenization-free MT/generation metric
    that correlates with human judgment better than BLEU on
    morphologically rich languages, and the standard candidate-vs-
    reference score when no reference tokenizer exists. Each prompt
    group's reference is its min-doc_id member; every other candidate
    is scored against it over clipped char {1,2}-gram counts (multiset
    overlap = Σ min(c_cand, c_ref)). With P = ov/tc and R = ov/tr the
    F2 term 5PR/(4P+R) reduces algebraically to 5·ov/(4·tr + tc) —
    one integer ratio per n, quantized half-up to micro units and
    averaged over the AVAILABLE n in integer space (divide by count(m),
    not a constant — a pair whose ref or candidate is shorter than 2
    chars gets the mean over n=1 alone, per the metric's definition;
    ADVICE r9 #4), so both engines emit identical doubles.

    Scale: gram tables are one explode + combinable groupBy (rows ≈
    total chars); scoring joins are keyed by (doc, n, gram) with one
    reference per prompt — linear in corpus size, no pairwise blowup."""
    # fan out the single-split scan: the char-gram explode (≈ corpus
    # chars × 2 orders) is the dominant cost (guide §2.6)
    docs = load(spark, sf_dir, "documents").repartition(
        default_parallelism()
    )

    def grams(n: int) -> DataFrame:
        # length >= n for EVERY n (including 1): sequence(0, length-n)
        # auto-steps DOWN for an empty text (sequence(0,-1) -> [0,-1]),
        # which would fabricate two empty-string 1-grams where DuckDB's
        # range(length) yields none (ADVICE r9 #1).
        base = docs.filter(F.length("text") >= n)
        return base.select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.length("text") - n),
                    lambda i: F.substring("text", i + 1, F.lit(n)),
                )
            ).alias("g"),
        )

    # the gram-count table feeds three consumers (both overlap sides +
    # totals); materialize it once instead of re-running the corpus
    # char-gram explode per reference (guide §2.4)
    g = (
        grams(1)
        .unionAll(grams(2))
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = g.groupBy("doc_id", "n").agg(F.sum("c").alias("t"))
    refpick = docs.groupBy(
        (F.col("doc_id") % _MBR_MOD).alias("prompt_id")
    ).agg(F.min("doc_id").alias("ref_id"))
    pairs = (
        docs.select(
            F.col("doc_id").alias("cand_id"),
            (F.col("doc_id") % _MBR_MOD).alias("prompt_id"),
        )
        .join(refpick, "prompt_id")
        .filter(F.col("cand_id") != F.col("ref_id"))
    )
    ov = (
        pairs.join(
            g.select(
                F.col("doc_id").alias("cand_id"), "n", "g", F.col("c").alias("cc")
            ),
            "cand_id",
        )
        .join(
            g.select(
                F.col("doc_id").alias("ref_id"), "n", "g", F.col("c").alias("cr")
            ),
            ["ref_id", "n", "g"],
        )
        .groupBy("cand_id", "n")
        .agg(F.sum(F.least("cc", "cr")).alias("ov"))
    )
    fm = (
        pairs.join(
            tot.select(
                F.col("doc_id").alias("cand_id"), "n", F.col("t").alias("tc")
            ),
            "cand_id",
        )
        .join(
            tot.select(
                F.col("doc_id").alias("ref_id"), "n", F.col("t").alias("tr")
            ),
            ["ref_id", "n"],
        )
        .join(ov, ["cand_id", "n"], "left")
        .withColumn("ov", F.coalesce("ov", F.lit(0)))
        .select(
            "cand_id",
            "prompt_id",
            "ref_id",
            _half_up_col("5 * 1000000 * ov", "4 * tr + tc").alias("m"),
        )
    )
    return (
        fm.groupBy(
            "cand_id",
            F.col("prompt_id").cast("long").alias("prompt_id"),
            "ref_id",
        )
        .agg(
            (
                _half_up_col("sum(m)", "count(m)")
                / F.lit(1000000.0)
            ).alias("chrf")
        )
        .orderBy("cand_id")
    )


# ---------------------------------------------------------------------------
# X684 — rejection-sampling fine-tuning (RFT) dataset builder
# ---------------------------------------------------------------------------

_RFT_M = 4  # max kept samples per prompt
_RFT_FP_MOD = 16  # reasoning-path fingerprint space

_RFT_ORACLE = f"""
    WITH bar AS (
      SELECT sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(*))
               AS m
      FROM events),
    ok AS (
      SELECT e.user_id, e.event_id, e.value,
             {token_hash_sql('e.props')} % {_RFT_FP_MOD} AS fp
      FROM events e, bar WHERE e.value >= bar.m),
    firsts AS (
      SELECT user_id, fp, min(event_id) AS event_id
      FROM ok GROUP BY user_id, fp),
    kept AS (
      SELECT o.user_id, o.event_id, o.value, o.fp,
             row_number() OVER (PARTITION BY o.user_id
                                ORDER BY o.value DESC, o.event_id) AS rn
      FROM ok o JOIN firsts f
        ON f.user_id = o.user_id AND f.fp = o.fp
           AND f.event_id = o.event_id),
    paths AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_paths
      FROM firsts GROUP BY user_id),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_kept,
             {_half_up_sql(
                 '10000 * sum(CAST(round(value * 100) AS BIGINT))',
                 'count(*)')} / 1000000.0 AS mean_reward
      FROM kept WHERE rn <= {_RFT_M}
      GROUP BY user_id)
    SELECT a.user_id, a.n_kept, p.n_paths, a.mean_reward
    FROM agg a JOIN paths p ON p.user_id = a.user_id
    ORDER BY a.user_id
    """


@query("q_rft_select", oracle=_RFT_ORACLE)
def q_rft_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X684 — rejection-sampling fine-tuning dataset builder (RFT,
    Yuan et al. 2023): per prompt keep only CORRECT samples (reward
    clears the corpus bar), dedup them by reasoning-path fingerprint
    (distinct solution paths add augmentation value; re-samples of the
    same path add none), and cap at m per prompt ranked by reward.
    The fingerprint is a hash of the sample's payload into a small
    path space — the stand-in for the equation-sequence dedup in the
    paper. One row per prompt: kept count, distinct paths, mean kept
    reward (integer cents half-up to micro units ⇒ associative and
    engine-identical).

    Scale: one scalar broadcast (the bar), two per-key groupBys and
    one per-key window — group sizes are samples-per-prompt, bounded
    by the sampler; no cross-prompt interaction anywhere."""
    e = load(spark, sf_dir, "events")
    bar = e.agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count("*"))
        ).alias("m")
    )
    ok = (
        e.crossJoin(F.broadcast(bar))
        .filter(F.col("value") >= F.col("m"))
        .select(
            "user_id",
            "event_id",
            "value",
            (token_hash(F.col("props")) % _RFT_FP_MOD).alias("fp"),
        )
    )
    firsts = ok.groupBy("user_id", "fp").agg(
        F.min("event_id").alias("event_id")
    )
    w = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    kept = (
        ok.join(firsts, ["user_id", "fp", "event_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RFT_M)
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
    )
    paths = firsts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_paths")
    )
    return (
        kept.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            (
                _half_up_col("10000 * sum(cents)", "count(*)")
                / F.lit(1000000.0)
            ).alias("mean_reward"),
        )
        .join(paths, "user_id")
        .select("user_id", "n_kept", "n_paths", "mean_reward")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# X685 — online pairwise-rating fold (Elo with Bradley-Terry expectation)
# ---------------------------------------------------------------------------

_ELO_K = 16
_ELO_NP = 8  # players per arena (user_id mod)
_ELO_INIT = 1000000  # milli-points (1000.000)
# Gate-instance replay cap (VERDICT r9 #7): the DuckDB oracle carries the
# 8-slot rating vector through one recursive-CTE step PER GAME, which made
# q_elo_ratings the slowest gate key (~19 s at sf0.01, vs 0.85 s for the
# Spark side). Both engines fold only the first _ELO_GATE_GAMES games per
# arena — a deterministic prefix of the (ts, event_id)-ordered game stream,
# applied identically on both sides, so the order-dependent fold semantics
# under test are unchanged; the UNBOUNDED fold stays exercised by the
# streaming-store parity tests (tests/test_streaming.py) which compare
# the elo_state_fold store against the uncapped elo_ratings_df.
_ELO_GATE_GAMES = 300

_ELO_ORACLE = f"""
    WITH RECURSIVE seq AS (
      SELECT event_type, user_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    g0 AS (
      SELECT a.event_type,
             CAST(a.user_id % 8 AS BIGINT) AS pa,
             CAST(b.user_id % 8 AS BIGINT) AS pb,
             CASE WHEN a.value > b.value THEN 2
                  WHEN a.value < b.value THEN 0 ELSE 1 END AS s2,
             a.rn AS ord
      FROM seq a JOIN seq b
        ON b.event_type = a.event_type AND b.rn = a.rn + 1
      WHERE a.rn % 2 = 1 AND a.user_id % 8 <> b.user_id % 8),
    g AS (
      SELECT * FROM (
        SELECT event_type, pa, pb, s2,
               row_number() OVER (PARTITION BY event_type ORDER BY ord) AS gn
        FROM g0)
      WHERE gn <= {_ELO_GATE_GAMES}),
    init AS (SELECT DISTINCT event_type FROM g),
    st AS (
      SELECT event_type, 0 AS step,
             list_transform(range(8), i -> CAST(1000000 AS BIGINT)) AS r
      FROM init
      UNION ALL
      SELECT event_type, step + 1,
             list_transform(range(8), i ->
               CASE WHEN i = pa THEN r[CAST(i + 1 AS INT)] + delta
                    WHEN i = pb THEN r[CAST(i + 1 AS INT)] - delta
                    ELSE r[CAST(i + 1 AS INT)] END)
      FROM (
        SELECT event_type, step, r, pa, pb,
               CASE WHEN d_num >= 0
                    THEN (2 * d_num + 100000) // 200000
                    ELSE -((2 * (-d_num) + 100000) // 200000) END AS delta
        FROM (
          SELECT s.event_type, s.step, s.r, q.pa, q.pb,
                 16 * (q.s2 * 50000000
                   - ((2 * (100000000 * s.r[CAST(q.pa + 1 AS INT)])
                       + (s.r[CAST(q.pa + 1 AS INT)]
                          + s.r[CAST(q.pb + 1 AS INT)]))
                      // (2 * (s.r[CAST(q.pa + 1 AS INT)]
                               + s.r[CAST(q.pb + 1 AS INT)])))) AS d_num
          FROM st s JOIN g q
            ON q.event_type = s.event_type AND q.gn = s.step + 1) t1
      ) t2),
    fin AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY step DESC) AS rk
      FROM st),
    flat AS (
      SELECT event_type, CAST(i AS BIGINT) AS player,
             r[CAST(i + 1 AS INT)] / 1000.0 AS rating
      FROM fin, unnest(range(8)) u(i) WHERE rk = 1),
    ng AS (
      SELECT event_type, p AS player, CAST(count(*) AS BIGINT) AS n_games
      FROM (SELECT event_type, pa AS p FROM g
            UNION ALL SELECT event_type, pb FROM g)
      GROUP BY 1, 2)
    SELECT f.event_type, f.player, f.rating,
           coalesce(n.n_games, 0) AS n_games,
           CAST({_ELO_GATE_GAMES} AS BIGINT) AS gate_games_cap
    FROM flat f LEFT JOIN ng n
      ON n.event_type = f.event_type AND n.player = f.player
    ORDER BY f.event_type, f.player
    """


def elo_fold(games, r: list[int], ngames: list[int]) -> None:
    """Fold ordered games (pa, pb, s2) into milli-point ratings IN
    PLACE — exact integer arithmetic shared by the batch query and
    the streaming store (streaming/pipeline.elo_state_fold, run per
    micro-batch by versioned_fold_batch_fn).

    The expected score uses the Bradley-Terry form e = ra/(ra+rb)
    (Elo IS the logistic-link BT online update; the rational link
    keeps every step in exact integers): e8 = half-up(1e8·ra/(ra+rb)),
    Δ_milli = half-up(|K·(s2·5e7 − e8)| / 1e5) signed — zero-sum by
    construction, so Σ ratings is conserved exactly forever."""
    for pa, pb, s2 in games:
        ra, rb = r[pa], r[pb]
        e8 = (2 * (100000000 * ra) + (ra + rb)) // (2 * (ra + rb))
        d = _ELO_K * (s2 * 50000000 - e8)
        mag = (2 * abs(d) + 100000) // 200000
        delta = mag if d >= 0 else -mag
        r[pa] += delta
        r[pb] -= delta
        ngames[pa] += 1
        ngames[pb] += 1


def elo_games_df(e: DataFrame) -> DataFrame:
    """Events → ordered games: consecutive event pairs per arena
    (event_type), ordered by (ts, event_id); A = the odd row, B = the
    next row; self-play (same player slot) is skipped but still
    consumes its rows, so pairing parity is a property of the event
    SEQUENCE, not of the surviving games."""
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lead("user_id").over(w).alias("ub"),
        F.lead("value").over(w).alias("vb"),
    )
    g0 = s.filter(
        (F.col("rn") % 2 == 1)
        & F.col("ub").isNotNull()
        & (F.col("user_id") % _ELO_NP != F.col("ub") % _ELO_NP)
    ).select(
        "event_type",
        (F.col("user_id") % _ELO_NP).cast("long").alias("pa"),
        (F.col("ub") % _ELO_NP).cast("long").alias("pb"),
        F.when(F.col("value") > F.col("vb"), F.lit(2))
        .when(F.col("value") < F.col("vb"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("s2"),
        F.col("rn").alias("ord"),
    )
    wg = W.partitionBy("event_type").orderBy("ord")
    return g0.withColumn("gn", F.row_number().over(wg)).drop("ord")


def elo_ratings_df(e: DataFrame, max_games: int | None = None) -> DataFrame:
    """Batch arena ratings from an events DataFrame (the arithmetic
    q_elo_ratings and the streaming store's per-wave parity test
    share). ``max_games`` caps the fold at the first N games per arena
    (the gate instance's deterministic replay cap); None = unbounded
    (the streaming parity path)."""
    g = elo_games_df(e)
    if max_games is not None:
        g = g.filter(F.col("gn") <= max_games)

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("gn")
        r = [_ELO_INIT] * _ELO_NP
        ng = [0] * _ELO_NP
        elo_fold(
            zip(
                (int(x) for x in pdf["pa"]),
                (int(x) for x in pdf["pb"]),
                (int(x) for x in pdf["s2"]),
            ),
            r,
            ng,
        )
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]] * _ELO_NP,
                "player": list(range(_ELO_NP)),
                "r_milli": r,
                "n_games": ng,
            }
        )

    state = g.groupBy("event_type").applyInPandas(
        fold,
        schema="event_type string, player long, r_milli long, n_games long",
    )
    return state.select(
        "event_type",
        "player",
        (F.col("r_milli") / F.lit(1000.0)).alias("rating"),
        "n_games",
    ).orderBy("event_type", "player")


@query("q_elo_ratings", oracle=_ELO_ORACLE)
def q_elo_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X685 — online pairwise-rating fold (Elo 1978 with the
    Bradley-Terry expected-score link): consecutive events per arena
    (event_type) form games between player slots (user_id mod 8);
    ratings update sequentially — e = ra/(ra+rb), Δ = K·(s − e) —
    the order-dependent fold behind chatbot-arena leaderboards and
    matchmaking. Every step is exact integer milli-point arithmetic
    (half-up divisions, signed magnitudes handled explicitly so
    truncation-vs-floor integer division can never diverge between
    engines), and updates are zero-sum, so Σ ratings = 8e6 milli per
    arena is conserved exactly — pinned by pytest.

    Like the Kalman fold (X648): sequential in game order but
    embarrassingly parallel across arenas — ONE applyInPandas shuffle,
    zero driver-side iteration; the oracle replays the identical
    integer recurrence as a recursive CTE carrying the rating vector.

    Scale: per-arena game streams are calendar/stream-bounded rows;
    arenas partition the work. The streaming face
    (run_streaming_elo) folds only NEW games per micro-batch from the
    versioned store's rating vector — a leaderboard service never
    rescans history.

    The gate instance folds only the first {_ELO_GATE_GAMES} games per
    arena (differential-oracle cost cap) — and says so IN the output:
    the ``gate_games_cap`` column makes prefix ratings impossible to
    mistake for full-history ratings (ADVICE r10). The unbounded fold
    stays covered by the streaming parity tests."""
    return elo_ratings_df(
        load(spark, sf_dir, "events"), max_games=_ELO_GATE_GAMES
    ).withColumn(
        "gate_games_cap", F.lit(_ELO_GATE_GAMES).cast("long")
    )


# ---------------------------------------------------------------------------
# X687 — Fellegi-Sunter probabilistic record linkage (EM-fitted m/u)
# ---------------------------------------------------------------------------

_FS_ITERS = 3
_FS_S = 100  # responsibility quantum (t ≈ w·c·S)
_FS_INIT = (900, 900, 900, 100, 100, 100, 10)  # m1..m3, u1..u3, p (milli)

_FS_PAT_SQL = """
    pat AS (
      SELECT b1 * 4 + b2 * 2 + b3 AS j, b1, b2, b3,
             CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS b1,
               CASE WHEN a.ft = b.ft THEN 1 ELSE 0 END AS b2,
               CASE WHEN a.nb = b.nb THEN 1 ELSE 0 END AS b3
        FROM side_a a JOIN side_b b ON a.lang = b.lang)
      GROUP BY b1, b2, b3)
    """


def _fs_sides_sql() -> str:
    toks = _text.tokens_sql("text")
    side = f"""
      SELECT doc_id, lang, source, n_chars // 50 AS nb,
             {toks}[1] AS ft
      FROM documents"""
    # halves split by (doc_id // 20) % 2 — the testdata assigns
    # source = src(doc_id % 20), so a plain parity split would never
    # put the same source on both sides
    return f"""
    side_a AS ({side} WHERE (doc_id // 20) % 2 = 0),
    side_b AS ({side} WHERE (doc_id // 20) % 2 = 1)"""


def _fs_iter_sql(prev: str, cur: str) -> str:
    """One EM step: responsibilities t_j = half-up(numM·c·S / (numM+numU))
    in exact integers, then milli-state updates clamped to [1, 999]."""

    def pm(which: str, f: int, b: str) -> str:
        return (
            f"(CASE WHEN {b} = 1 THEN st.{which}{f} "
            f"ELSE 1000 - st.{which}{f} END)"
        )

    num_m = f"st.p * {pm('m', 1, 'b1')} * {pm('m', 2, 'b2')} * {pm('m', 3, 'b3')}"
    num_u = (
        f"(1000 - st.p) * {pm('u', 1, 'b1')} * {pm('u', 2, 'b2')} "
        f"* {pm('u', 3, 'b3')}"
    )

    def upd(which: str, f: int) -> str:
        b = f"b{f}"
        if which == "m":
            num, den = f"sum(CASE WHEN {b} = 1 THEN t ELSE 0 END)", "sum(t)"
        else:
            num, den = (
                f"sum(CASE WHEN {b} = 1 THEN cs - t ELSE 0 END)",
                "sum(cs - t)",
            )
        return (
            f"least(999, greatest(1, "
            f"{_half_up_sql(f'1000 * {num}', den)})) AS {which}{f}"
        )

    return f"""
    t_{cur} AS (
      SELECT j, b1, b2, b3, c, c * {_FS_S} AS cs,
             {_half_up_sql(f'({num_m}) * c * {_FS_S}',
                           f'({num_m}) + ({num_u})')} AS t
      FROM pat, {prev} st),
    {cur} AS (
      SELECT {upd('m', 1)}, {upd('m', 2)}, {upd('m', 3)},
             {upd('u', 1)}, {upd('u', 2)}, {upd('u', 3)},
             least(999, greatest(1,
               {_half_up_sql('1000 * sum(t)', 'sum(cs)')})) AS p
      FROM t_{cur})"""


def _fs_oracle() -> str:
    m1, m2, m3, u1, u2, u3, p = _FS_INIT
    iters = "".join(
        "," + _fs_iter_sql(f"st{i}", f"st{i + 1}")
        for i in range(_FS_ITERS)
    )
    fin = f"st{_FS_ITERS}"
    field_rows = ", ".join(
        f"({f}, '{name}')"
        for f, name in ((1, "source"), (2, "first_token"),
                        (3, "n_chars_bucket"))
    )
    return f"""
    WITH {_fs_sides_sql()},
    {_FS_PAT_SQL},
    st0 AS (SELECT CAST({m1} AS BIGINT) AS m1, CAST({m2} AS BIGINT) AS m2,
                   CAST({m3} AS BIGINT) AS m3, CAST({u1} AS BIGINT) AS u1,
                   CAST({u2} AS BIGINT) AS u2, CAST({u3} AS BIGINT) AS u3,
                   CAST({p} AS BIGINT) AS p)
    {iters},
    np AS (SELECT sum(c) AS n_pairs FROM pat)
    SELECT f.field, f.name,
           CASE f.field WHEN 1 THEN s.m1 WHEN 2 THEN s.m2
                ELSE s.m3 END / 1000.0 AS m,
           CASE f.field WHEN 1 THEN s.u1 WHEN 2 THEN s.u2
                ELSE s.u3 END / 1000.0 AS u,
           {_half_up_sql(
               '''1000000 * (CASE f.field WHEN 1 THEN s.m1
                  WHEN 2 THEN s.m2 ELSE s.m3 END)''',
               '''CASE f.field WHEN 1 THEN s.u1 WHEN 2 THEN s.u2
                  ELSE s.u3 END''')} / 1000000.0 AS lr,
           s.p / 1000.0 AS match_rate,
           CAST(np.n_pairs AS BIGINT) AS n_pairs
    FROM (VALUES {field_rows}) f(field, name), {fin} s, np
    ORDER BY f.field
    """


def _fs_em(counts: list[tuple[int, int]]) -> tuple[int, ...]:
    """Exact integer EM over (pattern j, count) pairs — the identical
    arithmetic the oracle unrolls; bounded driver math over ≤8 ints."""

    def half_up(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    m = list(_FS_INIT[:3])
    u = list(_FS_INIT[3:6])
    p = _FS_INIT[6]
    for _ in range(_FS_ITERS):
        ts, css = [], []
        bits = []
        for j, c in counts:
            b = ((j >> 2) & 1, (j >> 1) & 1, j & 1)
            num_m = p
            num_u = 1000 - p
            for f in range(3):
                num_m *= m[f] if b[f] else 1000 - m[f]
                num_u *= u[f] if b[f] else 1000 - u[f]
            t = half_up(num_m * c * _FS_S, num_m + num_u)
            ts.append(t)
            css.append(c * _FS_S)
            bits.append(b)
        tot_t, tot_cs = sum(ts), sum(css)
        clamp = lambda v: max(1, min(999, v))  # noqa: E731
        m = [
            clamp(
                half_up(
                    1000 * sum(t for t, b in zip(ts, bits) if b[f]), tot_t
                )
            )
            for f in range(3)
        ]
        u = [
            clamp(
                half_up(
                    1000
                    * sum(cs - t for t, cs, b in zip(ts, css, bits) if b[f]),
                    tot_cs - tot_t,
                )
            )
            for f in range(3)
        ]
        p = clamp(half_up(1000 * tot_t, tot_cs))
    return (*m, *u, p)


@query("q_fellegi_sunter", oracle=_fs_oracle())
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X687 — Fellegi-Sunter probabilistic record linkage (1969; the
    Splink/Census model): candidate pairs blocked on (lang, source)
    between the even- and odd-doc_id halves of the corpus; per-field
    agreement patterns (n_chars bucket, first token, token-count
    bucket) are reduced to 8 pattern counts, and the match/unmatch
    probabilities m_f, u_f plus the match prevalence p are fitted by
    EM over the product-Bernoulli mixture. The per-field likelihood
    ratio m/u is the FS match weight downstream classifiers threshold
    on.

    Spark-first split: the O(pairs) work — blocking join + pattern
    counting — is fully distributed; EM itself is closed-form over
    the ≤8 pattern counts (a documented bounded driver fold, like the
    repo's other scalar-state fits), in EXACT milli-integer
    arithmetic (state clamped to [1,999] so products never vanish)
    that the oracle unrolls as {_FS_ITERS} CTE iterations.

    Scale: blocks bound the pairwise join (never corpus²); pattern
    counting is a map-side-combinable 8-bucket groupBy. The int64
    responsibility headroom (numM·c·S ≤ ~1e14·c) supports ~3e4
    pairs-per-pattern per fit; beyond that rescale S — a constant.
    (Docstring constants interpolated: iters={_FS_ITERS}.)"""
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
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            (F.col("b1") * 4 + F.col("b2") * 2 + F.col("b3")).alias("j"), "c"
        )
    )
    counts = [(int(r["j"]), int(r["c"])) for r in pat.collect()]
    n_pairs = sum(c for _, c in counts)
    m1, m2, m3, u1, u2, u3, p = _fs_em(counts)
    names = ("source", "first_token", "n_chars_bucket")
    rows = [
        (f + 1, names[f], mm, uu)
        for f, (mm, uu) in enumerate(((m1, u1), (m2, u2), (m3, u3)))
    ]
    out = local_frame(
        spark,
        rows, schema="field int, name string, m_milli long, u_milli long"
    )
    return out.select(
        "field",
        "name",
        (F.col("m_milli") / F.lit(1000.0)).alias("m"),
        (F.col("u_milli") / F.lit(1000.0)).alias("u"),
        (
            F.expr(
                "(2 * 1000000 * m_milli + u_milli) div (2 * u_milli)"
            )
            / F.lit(1000000.0)
        ).alias("lr"),
        (F.lit(p) / F.lit(1000.0)).alias("match_rate"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
    ).orderBy("field")


# ---------------------------------------------------------------------------
# X688 — gradient noise scale (critical batch size estimator)
# ---------------------------------------------------------------------------

# B_simple = tr(Σ)/|μ|² on the 1e-4-quantized per-example vectors:
# with integer moments S1_d, S2_d over n rows,
#   tr(Σ)·n² = Σ_d (n·S2_d − S1_d²)   and   |μ|²·n² = Σ_d S1_d²
# — ONE integer ratio, no float sums anywhere.
_GNS_Q = 10000  # component quantum (1e-4)
_GNS_DIMS = 64

_GNS_ORACLE = f"""
    WITH x AS (
      SELECT label, d.dim,
             CAST(round(CAST(embedding[d.dim] AS DOUBLE) * {_GNS_Q})
                  AS BIGINT) AS v
      FROM (SELECT * FROM embeddings WHERE len(embedding) >= {_GNS_DIMS}) e
      CROSS JOIN (SELECT unnest(generate_series(1, {_GNS_DIMS})) AS dim) d),
    mom AS (
      SELECT label, dim, count(*) AS n,
             sum(v) AS s1, sum(v * v) AS s2
      FROM x GROUP BY label, dim),
    agg AS (
      SELECT label, any_value(n) AS n,
             sum(n * s2 - s1 * s1) AS tr_num,
             sum(s1 * s1) AS mu_num
      FROM mom GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
           round((tr_num * 1.0) / (n * n) / {_GNS_Q * _GNS_Q}.0, 6)
             AS trace_sigma,
           round((mu_num * 1.0) / (n * n) / {_GNS_Q * _GNS_Q}.0, 6)
             AS mu_norm_sq,
           {_half_up_sql('1000 * (tr_num // 1024)',
                         'greatest(mu_num // 1024, 1)')} / 1000.0
             AS gns
    FROM agg ORDER BY label
    """


@query("q_grad_noise_scale", oracle=_GNS_ORACLE)
def q_grad_noise_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X688 — gradient noise scale / critical batch size (McCandlish
    et al. 2018): B_simple = tr(Σ)/|g|² over per-example gradient
    vectors (the embedding column stands in — the estimator is
    identical for any per-example vector statistic). Below B_simple,
    batching is near-linearly efficient; above it, returns diminish —
    THE quantity that sizes data-parallel training. Computed per label
    group so heterogeneous example populations are visible.

    Determinism: components are quantized to 1e-4 ONCE, after which
    both tr(Σ)·n² = Σ_d(n·S2_d − S1_d²) and |μ|²·n² = Σ_d S1_d² are
    exact associative integer sums, and B_simple is a single integer
    ratio — no cross-engine float accumulation at all. The ratio is
    quantized at milli precision after a common 2^10 shift of both
    integer operands (identical in both engines), which keeps the
    half-up numerator inside int64 up to ~10^7 rows/group; rescale
    the component quantum beyond that — a constant.

    Scale: one map-side-combinable groupBy over (label, dim) then a
    64-row reduce per label; vectors never shuffle."""
    # size >= DIMS in BOTH engines: posexplode emits no row for a
    # missing dimension while the oracle's generate_series cross join
    # would count it with NULL v, skewing n (ADVICE r9 #3).
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _GNS_DIMS
    )
    x = emb.select(
        "label",
        F.posexplode(F.slice("embedding", 1, _GNS_DIMS)).alias("pos", "ev"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("ev").cast("double") * _GNS_Q).cast("long").alias("v"),
    )
    mom = x.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    agg = mom.groupBy("label").agg(
        F.first("n").alias("n"),
        F.sum(F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias(
            "tr_num"
        ),
        F.sum(F.col("s1") * F.col("s1")).alias("mu_num"),
    )
    qq = float(_GNS_Q * _GNS_Q)
    return agg.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.col("tr_num") * 1.0) / (F.col("n") * F.col("n")) / qq, 6
        ).alias("trace_sigma"),
        F.round(
            (F.col("mu_num") * 1.0) / (F.col("n") * F.col("n")) / qq, 6
        ).alias("mu_norm_sq"),
        (
            _half_up_col(
                "1000 * (tr_num div 1024)", "greatest(mu_num div 1024, 1)"
            )
            / F.lit(1000.0)
        ).alias("gns"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# X689 — encoding-corruption (mojibake) audit
# ---------------------------------------------------------------------------

_MOJI_RE = "Ã.|â€.|ï¿½|�"  # double-encode artifacts + raw replacement char
_NONASCII_RE = "[^\\x00-\\x7f]"  # python-escaped: emitted as [^\x00-\x7f]
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

_MOJI_ORACLE = f"""
    WITH per AS (
      SELECT source,
             len(regexp_extract_all(text, '{_NONASCII_RE}')) AS na,
             len(regexp_extract_all(text, '{_MOJI_RE}')) AS mj,
             len(regexp_extract_all(text, '{_CTRL_RE}')) AS ct,
             length(text) AS lc
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonascii_docs,
           {_half_up_sql('1000000 * sum(na)', 'sum(lc)')} / 1000000.0
             AS nonascii_char_ratio,
           CAST(sum(mj) AS BIGINT) AS n_mojibake_hits,
           CAST(sum(ct) AS BIGINT) AS n_control_chars
    FROM per GROUP BY source ORDER BY source
    """


@query("q_mojibake_audit", oracle=_MOJI_ORACLE)
def q_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X689 — encoding-corruption audit: per source, the three classic
    wire-corruption signals a crawl-ingest pipeline checks before
    training — UTF-8 double-encode artifacts (Ã./â€./U+FFFD — the
    'mojibake' a latin-1 ↔ utf-8 mixup leaves), raw C0 control bytes,
    and the non-ASCII character ratio (a jump against a source's
    baseline means its upstream changed encoding). All counts are
    integers from per-row regexp scans (Java regex and RE2 agree on
    codepoint classes — pinned by the differential gate itself); the
    ratio is one integer half-up division.

    Scale: embarrassingly parallel row scan + one combinable groupBy;
    predicate-pushdown-friendly (only text/source read)."""
    d = load(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_NONASCII_RE), 0)).alias(
            "na"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_MOJI_RE), 0)).alias("mj"),
        F.size(F.regexp_extract_all("text", F.lit(_CTRL_RE), 0)).alias("ct"),
        F.length("text").alias("lc"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("na") > 0).cast("long"))
            .cast("long")
            .alias("n_nonascii_docs"),
            (
                _half_up_col("1000000 * sum(na)", "sum(lc)")
                / F.lit(1000000.0)
            ).alias("nonascii_char_ratio"),
            F.sum("mj").cast("long").alias("n_mojibake_hits"),
            F.sum("ct").cast("long").alias("n_control_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X690 — per-source token cross-entropy vs the corpus unigram LM
# ---------------------------------------------------------------------------

_XENT_NANO = 1000000000


def _xent_term_sql(p: str, q: str) -> str:
    """round(1e9 · p·log2(p/q)) as BIGINT — per-term quantization so
    the cross-vocab sum is associative."""
    return (
        f"CAST(round({_XENT_NANO} * (({p}) * log2(({p}) / ({q}))))"
        f" AS BIGINT)"
    )


_XENT_ORACLE = f"""
    WITH tok AS (
      SELECT source, unnest({_text.tokens_sql('text')}) AS w
      FROM documents),
    sc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS cs
      FROM tok GROUP BY source, w),
    ns AS (SELECT source, sum(cs) AS nt FROM sc GROUP BY source),
    cw AS (SELECT w, sum(cs) AS cwn FROM sc GROUP BY w),
    tot AS (SELECT sum(cwn) AS nn, count(*) AS v FROM cw),
    terms AS (
      SELECT s.source,
             {_xent_term_sql(
                 's.cs * 1.0 / n.nt',
                 '(c.cwn + 1.0) / (t.nn + t.v)')} AS kl9,
             CAST(round({_XENT_NANO} * (-(s.cs * 1.0 / n.nt)
                  * log2(s.cs * 1.0 / n.nt))) AS BIGINT) AS h9
      FROM sc s
      JOIN ns n ON n.source = s.source
      JOIN cw c ON c.w = s.w
      CROSS JOIN tot t),
    agg AS (
      SELECT source, greatest(sum(kl9), 0) AS kl9, sum(h9) AS h9
      FROM terms GROUP BY source)
    SELECT a.source, CAST(n.nt AS BIGINT) AS n_tokens,
           {_half_up_sql('a.h9', '1000')} / 1000000.0 AS entropy_bits,
           {_half_up_sql('a.kl9', '1000')} / 1000000.0 AS kl_bits,
           {_half_up_sql('a.h9 + a.kl9', '1000')} / 1000000.0
             AS cross_entropy_bits
    FROM agg a JOIN ns n ON n.source = a.source
    ORDER BY a.source
    """


@query("q_token_crossentropy", oracle=_XENT_ORACLE)
def q_token_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X690 — per-source token-level cross-entropy against the corpus
    unigram LM (add-one smoothed): CE = H(source) + KL(source‖corpus)
    in bits/token — the vocabulary-level domain-shift gauge (X431's
    JS works on the 5-language mix; this works on the full token
    distribution, where a source drifting vocabulary shows up long
    before its language mix moves). Each term p·log2(p/q) is computed
    as one fixed-shape IEEE expression and quantized to 1e-9 BEFORE
    the cross-vocab sum, so the sum is an associative integer
    reduction in both engines; nano→micro conversion is integer
    half-up.

    Scale: token counts are combinable groupBys keyed by (source, w)
    and w; the terms join is keyed by token — Zipf-head skew bounded,
    AQE-splittable. Output is one row per source."""
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(_text.tokens(F.col("text"))).alias("w")
    )
    sc = tok.groupBy("source", "w").agg(F.count("*").alias("cs"))
    ns = sc.groupBy("source").agg(F.sum("cs").alias("nt"))
    cw = sc.groupBy("w").agg(F.sum("cs").alias("cwn"))
    tot = cw.agg(F.sum("cwn").alias("nn"), F.count("*").alias("v"))
    p = F.col("cs") * 1.0 / F.col("nt")
    q = (F.col("cwn") + 1.0) / (F.col("nn") + F.col("v"))
    terms = (
        sc.join(ns, "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(_XENT_NANO * (p * F.log2(p / q)))
            .cast("long")
            .alias("kl9"),
            F.round(_XENT_NANO * (-p * F.log2(p))).cast("long").alias("h9"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.greatest(F.sum("kl9"), F.lit(0)).alias("kl9"),
        F.sum("h9").alias("h9"),
    )
    return (
        agg.join(ns, "source")
        .select(
            "source",
            F.col("nt").cast("long").alias("n_tokens"),
            (_half_up_col("h9", "1000") / F.lit(1000000.0)).alias(
                "entropy_bits"
            ),
            (_half_up_col("kl9", "1000") / F.lit(1000000.0)).alias(
                "kl_bits"
            ),
            (_half_up_col("h9 + kl9", "1000") / F.lit(1000000.0)).alias(
                "cross_entropy_bits"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X691 — TracIn training-data influence along a GD trajectory
# ---------------------------------------------------------------------------

_TI_LR_NUM, _TI_LR_DEN = 1, 2  # η = 0.5
_TI_STEPS = 3
_TI_NANO = 1000000000
_TI_TOPK = 20

# trajectory with QUANTIZED gradients: per-row residual terms are
# rounded to 1e-9 BEFORE averaging, so the weight vector after every
# step is an exact integer (nano-units) in both engines — the
# trajectory cannot drift by a ULP and neither can the influences.

_TI_FEATS = (
    "SELECT vec_id, CAST(label < 5 AS INT) AS y, "
    "CAST(embedding[1] AS DOUBLE) AS x1, "
    "CAST(embedding[2] AS DOUBLE) AS x2 FROM embeddings"
)


def _ti_sig(prev: str) -> str:
    w = f"({prev}.w0 / 1e9 + ({prev}.w1 / 1e9) * x.x1 + ({prev}.w2 / 1e9) * x.x2)"
    return f"(1.0 / (1.0 + exp(-{w})))"


def _ti_traj_ctes() -> tuple[str, list[str]]:
    """CTE chain producing integer nano-unit checkpoints w1..w3."""
    ctes = [
        f"x AS ({_TI_FEATS})",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2)",
    ]
    names = []
    prev = "w0"
    for i in range(1, _TI_STEPS + 1):
        sig = _ti_sig(prev)
        ctes.append(
            f"""g{i} AS (
      SELECT count(*) AS n,
             sum(CAST(round({_TI_NANO} * ({sig} - x.y)) AS BIGINT)) AS t0,
             sum(CAST(round({_TI_NANO} * (({sig} - x.y) * x.x1))
                 AS BIGINT)) AS t1,
             sum(CAST(round({_TI_NANO} * (({sig} - x.y) * x.x2))
                 AS BIGINT)) AS t2
      FROM x CROSS JOIN {prev})"""
        )

        def upd(k: int) -> str:
            t = f"g{i}.t{k}"
            den = f"({_TI_LR_DEN} * g{i}.n)"
            mag = f"((2 * abs({t}) + {den}) // (2 * {den}))"
            return (
                f"{prev}.w{k} - (CASE WHEN {t} >= 0 THEN {mag} "
                f"ELSE -{mag} END) AS w{k}"
            )

        ctes.append(
            f"w{i} AS (SELECT {upd(0)}, {upd(1)}, {upd(2)} "
            f"FROM {prev} CROSS JOIN g{i})"
        )
        names.append(f"w{i}")
        prev = f"w{i}"
    return ",\n    ".join(ctes), names


def _ti_oracle() -> str:
    chain, names = _ti_traj_ctes()
    # residual tables per checkpoint, then pairwise influence terms
    res = []
    for i, w in enumerate(names, 1):
        sig = _ti_sig(w)
        res.append(
            f"r{i} AS (SELECT x.vec_id, ({sig} - x.y) AS r, x.x1, x.x2 "
            f"FROM x CROSS JOIN {w})"
        )
    res_union = " UNION ALL ".join(
        f"SELECT {i} AS ck, vec_id, r, x1, x2 FROM r{i}"
        for i in range(1, _TI_STEPS + 1)
    )
    return f"""
    WITH {chain},
    {','.join(res)},
    res AS ({res_union}),
    test AS (SELECT * FROM res WHERE vec_id % 25 = 0),
    train AS (SELECT * FROM res WHERE vec_id % 25 <> 0),
    terms AS (
      SELECT a.vec_id,
             CAST(round({_TI_NANO} * ({_TI_LR_NUM}.0 / {_TI_LR_DEN})
                  * a.r * b.r
                  * (1.0 + a.x1 * b.x1 + a.x2 * b.x2)) AS BIGINT) AS q9
      FROM train a JOIN test b ON b.ck = a.ck),
    tot AS (
      SELECT vec_id, sum(q9) AS s9 FROM terms GROUP BY vec_id),
    rk AS (
      SELECT vec_id, s9,
             row_number() OVER (ORDER BY s9 DESC, vec_id) AS rnk
      FROM tot)
    SELECT vec_id, CAST(rnk AS BIGINT) AS rnk,
           (CASE WHEN s9 >= 0 THEN (2 * s9 + 1000) // 2000
                 ELSE -((2 * (-s9) + 1000) // 2000) END) / 1000000.0
             AS influence
    FROM rk WHERE rnk <= {_TI_TOPK} ORDER BY rnk
    """


@query("q_tracin_influence", oracle=_ti_oracle())
def q_tracin_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X691 — TracIn training-data influence (Pruthi et al. 2020):
    influence of train point z on test point z' ≈ Σ_checkpoints
    η·∇l(w_c, z)·∇l(w_c, z') — for logistic loss the gradient is
    (σ(w·x) − y)·[1, x], so the dot product collapses to
    r_a·r_b·(1 + x_a·x_b). The trajectory is 3 GD steps (η = 1/2)
    whose per-step gradients are built from per-row residual terms
    quantized to 1e-9 and summed as integers — the checkpoints are
    exact integer nano-unit vectors in both engines, so influence
    cannot inherit a ULP drift from training. Top-20 proponents
    (summed over the held-out anchor set) are reported — the
    "which examples should I buy more of" ranking that KNN-Shapley
    (X679) answers geometrically and TracIn answers through the
    model's own optimization path.

    Scale: trajectory = 3 bounded scalar aggregates (driver holds 3
    ints per step); influence is a pair join train × anchors ×
    checkpoints — anchors are a FIXED eval suite, so cost is linear
    in the corpus. 100 TB: identical shape to X680's routed scoring.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("label") < 5).cast("int").alias("y"),
        F.element_at("embedding", 1).cast("double").alias("x1"),
        F.element_at("embedding", 2).cast("double").alias("x2"),
    )
    emb = emb.localCheckpoint(eager=True)

    def half_up_signed(a: int, b: int) -> int:
        mag = (2 * abs(a) + b) // (2 * b)
        return mag if a >= 0 else -mag

    # trajectory: exact integer nano-unit weights
    w = [0, 0, 0]
    ckpts: list[tuple[int, int, int]] = []
    for _ in range(_TI_STEPS):
        lin = (
            F.lit(w[0] / 1e9)
            + F.lit(w[1] / 1e9) * F.col("x1")
            + F.lit(w[2] / 1e9) * F.col("x2")
        )
        r = 1.0 / (1.0 + F.exp(-lin)) - F.col("y")
        g = emb.agg(
            F.count("*").alias("n"),
            F.sum(F.round(_TI_NANO * r).cast("long")).alias("t0"),
            F.sum(F.round(_TI_NANO * (r * F.col("x1"))).cast("long")).alias(
                "t1"
            ),
            F.sum(F.round(_TI_NANO * (r * F.col("x2"))).cast("long")).alias(
                "t2"
            ),
        ).collect()[0]
        den = _TI_LR_DEN * g["n"]
        w = [
            w[k] - half_up_signed(g[f"t{k}"], den)
            for k in range(3)
        ]
        ckpts.append(tuple(w))

    # residuals per checkpoint (weights inlined as exact literals)
    res = None
    for i, (w0, w1, w2) in enumerate(ckpts, 1):
        lin = (
            F.lit(w0 / 1e9)
            + F.lit(w1 / 1e9) * F.col("x1")
            + F.lit(w2 / 1e9) * F.col("x2")
        )
        part = emb.select(
            F.lit(i).alias("ck"),
            "vec_id",
            (1.0 / (1.0 + F.exp(-lin)) - F.col("y")).alias("r"),
            "x1",
            "x2",
        )
        res = part if res is None else res.unionAll(part)
    test = res.filter(F.col("vec_id") % 25 == 0).select(
        "ck",
        F.col("r").alias("rb"),
        F.col("x1").alias("xb1"),
        F.col("x2").alias("xb2"),
    )
    train = res.filter(F.col("vec_id") % 25 != 0)
    eta = float(_TI_LR_NUM) / _TI_LR_DEN
    q9 = F.round(
        _TI_NANO
        * eta
        * F.col("r")
        * F.col("rb")
        * (
            1.0
            + F.col("x1") * F.col("xb1")
            + F.col("x2") * F.col("xb2")
        )
    ).cast("long")
    tot = (
        train.join(F.broadcast(test), "ck")
        .select("vec_id", q9.alias("q9"))
        .groupBy("vec_id")
        .agg(F.sum("q9").alias("s9"))
    )
    wdw = W.orderBy(F.desc("s9"), "vec_id")
    return (
        tot.withColumn("rnk", F.row_number().over(wdw).cast("long"))
        .filter(F.col("rnk") <= _TI_TOPK)
        .select(
            "vec_id",
            "rnk",
            (
                F.expr(
                    "CASE WHEN s9 >= 0 THEN (2 * s9 + 1000) div 2000 "
                    "ELSE -((2 * (-s9) + 1000) div 2000) END"
                )
                / F.lit(1000000.0)
            ).alias("influence"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# X692 — Generalized Advantage Estimation (GAE) backward fold
# ---------------------------------------------------------------------------

# γ = 99/100, λ = 95/100 ⇒ γλ = 9405/10000; state in 1e-4-cent units
_GAE_GL_NUM, _GAE_GL_DEN = 9405, 10000
_GAE_G_NUM, _GAE_G_DEN = 99, 100
_GAE_Q = 10000  # 1e-4 cents

_GAE_ORACLE = f"""
    WITH RECURSIVE steps AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t,
             count(*) OVER (PARTITION BY user_id) AS tt
      FROM events),
    vbar AS (
      SELECT user_id,
             {_half_up_sql(f'{_GAE_Q} * sum(cents)', 'count(*)')} AS v4
      FROM steps GROUP BY user_id),
    delta AS (
      SELECT s.user_id, s.event_id, s.cents, s.t, s.tt,
             s.tt - s.t + 1 AS k,
             s.cents * {_GAE_Q}
               + CASE WHEN s.t < s.tt
                      THEN {_half_up_sql(f'{_GAE_G_NUM} * v.v4',
                                         str(_GAE_G_DEN))} - v.v4
                      ELSE -v.v4 END AS d4
      FROM steps s JOIN vbar v ON v.user_id = s.user_id),
    fold AS (
      SELECT user_id, event_id, cents, t, k, d4 AS a4
      FROM delta WHERE k = 1
      UNION ALL
      SELECT d.user_id, d.event_id, d.cents, d.t, d.k,
             d.d4 + CASE WHEN f.a4 >= 0
                    THEN (2 * {_GAE_GL_NUM} * f.a4 + {_GAE_GL_DEN})
                         // (2 * {_GAE_GL_DEN})
                    ELSE -((2 * {_GAE_GL_NUM} * (-f.a4) + {_GAE_GL_DEN})
                           // (2 * {_GAE_GL_DEN})) END AS a4
      FROM delta d JOIN fold f
        ON f.user_id = d.user_id AND d.k = f.k + 1)
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           round(cents / 100.0, 2) AS reward,
           a4 / {_GAE_Q * 100}.0 AS advantage
    FROM fold ORDER BY user_id, t
    """


@query("q_gae_advantage", oracle=_GAE_ORACLE)
def q_gae_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X692 — Generalized Advantage Estimation (Schulman et al. 2016),
    the PPO advantage transform: per episode (user_id), TD residuals
    δ_t = r_t + γV − V against the episode-mean baseline (no bootstrap
    past the terminal step), folded BACKWARD through A_t = δ_t +
    γλ·A_{t+1}. Order-dependent like Kalman (X648) and Elo (X685),
    and handled the same way: exact integer 1e-4-cent state with
    explicit signed half-up for the γλ product (γλ = 9405/10000), ONE
    applyInPandas over episodes, zero driver iteration; the oracle
    replays the identical recurrence as a backward recursive CTE over
    the per-episode reverse step index.

    Scale: episodes are independent (the shuffle key); per-episode
    length is trajectory-bounded. |A| ≤ max|δ|/(1 − γλ) keeps the
    signed half-up numerator ~1e13 — int64-safe at any corpus size
    since the bound is per-episode, not per-corpus."""
    # hash-repartition by the episode key so the window AND the Python
    # fold below inherit a full-width partitioning (one exchange, no AQE
    # coalesce): the per-episode pandas folds are the cost and would
    # otherwise serialize onto the 1-2 post-shuffle partitions AQE
    # leaves for this data volume (guide §2.6, §4)
    e = load(spark, sf_dir, "events").repartition(
        default_parallelism(), "user_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn("t", F.row_number().over(w))

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t").reset_index(drop=True)
        cents = [int(c) for c in pdf["cents"]]
        n = len(cents)

        def half_up(a: int, b: int) -> int:
            return (2 * a + b) // (2 * b)

        def half_up_signed(a: int, b: int) -> int:
            m = (2 * abs(a) + b) // (2 * b)
            return m if a >= 0 else -m

        v4 = half_up(_GAE_Q * sum(cents), n)
        gv = half_up(_GAE_G_NUM * v4, _GAE_G_DEN)
        d4 = [
            cents[i] * _GAE_Q + ((gv - v4) if i < n - 1 else -v4)
            for i in range(n)
        ]
        a4 = [0] * n
        a4[n - 1] = d4[n - 1]
        for i in range(n - 2, -1, -1):
            a4[i] = d4[i] + half_up_signed(
                _GAE_GL_NUM * a4[i + 1], _GAE_GL_DEN
            )
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].values,
                "event_id": pdf["event_id"].values,
                "t": pdf["t"].values,
                "cents": cents,
                "a4": a4,
            }
        )

    out = steps.groupBy("user_id").applyInPandas(
        fold,
        schema="user_id long, event_id long, t long, cents long, a4 long",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("t").cast("long").alias("t"),
        F.round(F.col("cents") / 100.0, 2).alias("reward"),
        (F.col("a4") / F.lit(float(_GAE_Q * 100))).alias("advantage"),
    ).orderBy("user_id", "t")


# ---------------------------------------------------------------------------
# X693 — incremental view maintenance: batch face of the delta-join view
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
    SELECT o.o_orderpriority AS priority, l.l_returnflag AS flag,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("q_ivm_join_view", oracle=_IVM_ORACLE)
def q_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X693 (batch face) — the join view the streaming IVM store
    maintains: joined-row counts per (order priority, return flag).
    Batch-side it is one shuffle join + combinable groupBy; the point
    of the component is the STREAMING side
    (streaming/pipeline.run_streaming_ivm), which maintains this view
    under inserts to BOTH base tables without ever re-running the
    join: per micro-batch ΔV = Δa⋈B + A⋈Δb + Δa⋈Δb (the classic
    delta-join rule of DBToaster/Materialize/DBSP), with the base
    relations' key-grouped counts as the only state. Incremental ≡
    batch is pytest-pinned per wave, including cross-wave join pairs.

    Scale: IVM state is O(distinct join keys) — the honest lower
    bound for two-sided maintenance; each batch shuffles only its own
    delta against the key-partitioned state."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_returnflag").alias("flag"),
    )
    return (
        o.join(l, "k")
        .groupBy("priority", "flag")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .orderBy("priority", "flag")
    )


# ---------------------------------------------------------------------------
# X694 — InfoNCE in-batch contrastive audit
# ---------------------------------------------------------------------------

from ..functions import vectors as _vec  # noqa: E402

_NCE_B = 50  # contrastive batch size (vec_id div B)
_NCE_TAU = 0.25
_NCE_NANO = 1000000000

_NCE_ORACLE = f"""
    WITH m AS (
      SELECT vec_id, label, embedding AS e, vec_id // {_NCE_B} AS bid
      FROM embeddings),
    pr AS (
      SELECT a.bid, a.vec_id AS i, b.vec_id AS j, b.label = a.label AS same,
             CAST(round({_NCE_NANO} * exp({_vec.cosine_sql('a.e', 'b.e')}
                  / {_NCE_TAU})) AS BIGINT) AS q9,
             CAST(round({_NCE_NANO} * {_vec.cosine_sql('a.e', 'b.e')})
                  AS BIGINT) AS s9
      FROM m a JOIN m b ON b.bid = a.bid AND b.vec_id <> a.vec_id),
    den AS (
      SELECT bid, i, sum(q9) AS d9 FROM pr GROUP BY bid, i),
    pos AS (
      SELECT bid, i, q9 AS p9, s9,
             row_number() OVER (PARTITION BY bid, i ORDER BY j) AS rn
      FROM pr WHERE same),
    anch AS (
      SELECT p.bid, p.i,
             CAST(round({_NCE_NANO} * (-ln(p.p9 * 1.0 / d.d9)))
                  AS BIGINT) AS l9,
             p.s9
      FROM pos p JOIN den d ON d.bid = p.bid AND d.i = p.i
      WHERE p.rn = 1)
    SELECT CAST(bid AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_anchors,
           {_half_up_sql('sum(l9)', 'count(*) * 1000')} / 1000000.0
             AS mean_infonce,
           CAST(CASE WHEN sum(s9) >= 0
             THEN {_half_up_sql('sum(s9)', 'count(*) * 1000')}
             ELSE -{_half_up_sql('-sum(s9)', 'count(*) * 1000')} END
             AS BIGINT) / 1000000.0 AS mean_pos_sim
    FROM anch GROUP BY bid ORDER BY bid
    """


@query("q_infonce_audit", oracle=_NCE_ORACLE)
def q_infonce_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X694 — in-batch InfoNCE audit (Oord et al. 2018; the training
    loss of CLIP/SimCLR-style embedding models): batches are vec_id
    blocks of {_NCE_B}; each anchor's positive is its first same-label
    batchmate and every other batchmate is a negative; the loss
    −log(exp(s⁺/τ)/Σ exp(s/τ)) is reported per batch together with
    the mean positive similarity — the two numbers that say whether a
    batch composition is actually teaching the encoder anything
    (collapsed batches → loss ≈ log B; easy batches → loss ≈ 0).
    X566's inbatch_collision counts duplicate collisions; this scores
    the full contrastive objective.

    Determinism: cosine uses the shared left-fold (functions/vectors);
    exp terms and per-anchor losses are quantized to 1e-9 before any
    cross-row sum; positive similarity can be negative, so its
    half-up mean handles the sign explicitly in exact integers.

    Scale: the pair join is batch-local (B² per batch, linear in
    batches); one window + two combinable groupBys."""
    # pin the batch-key partitioning at full width so the B²-per-batch
    # cosine projection (fused into the self-join stage) runs on every
    # core instead of the 1-2 partitions AQE would coalesce this tiny
    # shuffle to (guide §2.6); both join sides project off the same
    # exchange, which ReuseExchange computes once
    m = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.col("embedding").alias("e"),
            F.expr(f"vec_id div {_NCE_B}").alias("bid"),
        )
        .repartition(default_parallelism(), "bid")
    )
    a = m.select("bid", F.col("vec_id").alias("i"), F.col("label").alias("la"), F.col("e").alias("ea"))
    b = m.select("bid", F.col("vec_id").alias("j"), F.col("label").alias("lb"), F.col("e").alias("eb"))
    cos = _vec.cosine("ea", "eb")
    # pr feeds both the denominator aggregate and the positive pick;
    # materialize the scored pairs once so the cosine/exp pass is not
    # evaluated twice (guide §2.4)
    pr = (
        a.join(b, "bid")
        .filter(F.col("i") != F.col("j"))
        .select(
            "bid",
            "i",
            "j",
            (F.col("la") == F.col("lb")).alias("same"),
            F.round(_NCE_NANO * F.exp(cos / _NCE_TAU)).cast("long").alias("q9"),
            F.round(_NCE_NANO * cos).cast("long").alias("s9"),
        )
        .localCheckpoint(eager=True)
    )
    den = pr.groupBy("bid", "i").agg(F.sum("q9").alias("d9"))
    wp = W.partitionBy("bid", "i").orderBy("j")
    pos = (
        pr.filter(F.col("same"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("bid", "i", F.col("q9").alias("p9"), "s9")
    )
    anch = pos.join(den, ["bid", "i"]).select(
        "bid",
        F.round(_NCE_NANO * (-F.log(F.col("p9") * 1.0 / F.col("d9"))))
        .cast("long")
        .alias("l9"),
        "s9",
    )
    return (
        anch.groupBy(F.col("bid").cast("long").alias("batch_id"))
        .agg(
            F.count("*").cast("long").alias("n_anchors"),
            (
                _half_up_col("sum(l9)", "count(*) * 1000") / F.lit(1000000.0)
            ).alias("mean_infonce"),
            (
                F.expr(
                    "CASE WHEN sum(s9) >= 0 THEN "
                    "(2 * sum(s9) + count(*) * 1000) div (2 * count(*) * 1000)"
                    " ELSE -((2 * (-sum(s9)) + count(*) * 1000)"
                    " div (2 * count(*) * 1000)) END"
                )
                / F.lit(1000000.0)
            ).alias("mean_pos_sim"),
        )
        .orderBy("batch_id")
    )


# ---------------------------------------------------------------------------
# X695 — Rényi-DP accountant (Gaussian mechanism composition)
# ---------------------------------------------------------------------------

_DP_SIGMA = 2.0
_DP_DELTA = 1e-6
_DP_ALPHAS = tuple(range(2, 65))  # α grid for the RDP→(ε,δ) conversion

_DP_ORACLE = f"""
    WITH rel AS (
      SELECT source, CAST(count(*) AS BIGINT) AS t FROM documents
      GROUP BY source),
    grid AS (
      SELECT r.source, r.t, a.alpha,
             CAST(round(1000000000 * (
               r.t * a.alpha / (2.0 * {_DP_SIGMA} * {_DP_SIGMA})
               + ln(1.0 / {_DP_DELTA}) / (a.alpha - 1.0)))
               AS BIGINT) AS e9
      FROM rel r CROSS JOIN (
        SELECT unnest(generate_series({_DP_ALPHAS[0]},
                                      {_DP_ALPHAS[-1]})) AS alpha) a),
    best AS (
      SELECT source, t, alpha, e9,
             row_number() OVER (PARTITION BY source
                                ORDER BY e9, alpha) AS rn
      FROM grid)
    SELECT source, t AS n_releases,
           {_half_up_sql('e9', '1000')} / 1000000.0 AS eps,
           CAST(alpha AS BIGINT) AS alpha_star
    FROM best WHERE rn = 1 ORDER BY source
    """


@query("q_dp_accounting", oracle=_DP_ORACLE)
def q_dp_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X695 — Rényi differential-privacy accountant (Mironov 2017,
    the accounting behind DP-SGD): a Gaussian mechanism with noise
    multiplier σ has RDP ε_α = α/(2σ²) per release; T adaptive
    releases compose ADDITIVELY in RDP, and the (ε, δ) guarantee is
    the minimum over the α grid of T·α/(2σ²) + ln(1/δ)/(α−1). Each
    source is treated as its own privacy ledger with one release per
    document (σ = {_DP_SIGMA}, δ = {_DP_DELTA}); reported ε and the
    minimizing α — the number a data-governance gate thresholds
    before a source can ship. X329's dp_noise adds the noise; this
    accounts for it.

    Determinism: per-(source, α) candidates are quantized to 1e-9 and
    the argmin is taken on the INTEGER with α as tie-break, so the
    winning α cannot differ between engines.

    Scale: one count per source + a 63-row constant grid crossJoin —
    fixed work per ledger regardless of corpus size."""
    return DP_LEDGER.batch(spark, sf_dir)


def dp_releases(d: DataFrame) -> DataFrame:
    """Documents → (source, t) release counts."""
    return d.groupBy("source").agg(F.count("*").cast("long").alias("t"))


def dp_accountant_df(rel: DataFrame) -> DataFrame:
    """(source, t) release counts → the q_dp_accounting output shape."""
    import math

    spark = rel.sparkSession
    alphas = local_frame(spark, [(a,) for a in _DP_ALPHAS], "alpha int")
    e9 = F.round(
        1000000000
        * (
            F.col("t") * F.col("alpha") / (2.0 * _DP_SIGMA * _DP_SIGMA)
            + math.log(1.0 / _DP_DELTA) / (F.col("alpha") - 1.0)
        )
    ).cast("long")
    grid = rel.crossJoin(F.broadcast(alphas)).select(
        "source", "t", "alpha", e9.alias("e9")
    )
    w = W.partitionBy("source").orderBy("e9", "alpha")
    return (
        grid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("t").alias("n_releases"),
            (_half_up_col("e9", "1000") / F.lit(1000000.0)).alias("eps"),
            F.col("alpha").cast("long").alias("alpha_star"),
        )
        .orderBy("source")
    )


#: X696 — live privacy ledger: release counts are additive, and the
#: store's replay guard is what keeps a replayed batch from spending ε
#: twice
DP_LEDGER = StoreSpec(
    "documents",
    (Cells("releases", ("source",), dp_releases),),
    dp_accountant_df,
)


# ---------------------------------------------------------------------------
# X697 — entropic optimal transport (Sinkhorn) between source and corpus
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

_OT_LANGS = ("de", "en", "es", "fr", "zh")
_OT_NB = 5  # n_chars buckets (div 120, capped at 4)
_OT_EPS = 0.5
_OT_ITERS = 3
_OT_NANO = 1000000000


def _ot_cost(i: int, j: int) -> float:
    """Cost between bins i, j of the (lang, len-bucket) grid: language
    mismatch + quarter-scaled bucket distance — a genuinely 2-D ground
    metric (X262's emd_1d covers only ordinal 1-D costs)."""
    li, bi = divmod(i, _OT_NB)
    lj, bj = divmod(j, _OT_NB)
    return (1.0 if li != lj else 0.0) + abs(bi - bj) / 4.0


_OT_K9 = tuple(
    tuple(
        int(round(_OT_NANO * _math.exp(-_ot_cost(i, j) / _OT_EPS)))
        for j in range(len(_OT_LANGS) * _OT_NB)
    )
    for i in range(len(_OT_LANGS) * _OT_NB)
)

_OT_LANG_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{l}' THEN {i}" for i, l in enumerate(_OT_LANGS))
    + " END"
)


def _ot_sinkhorn_int(a6: list[int], b6: list[int]) -> tuple[int, int]:
    """Exact integer Sinkhorn: micro-unit scalings u, v (init 1e6),
    Kv reduced to 1e12 scale before each half-up division; transport
    cost per cell quantized to 1e-9 from the identical double
    expression both engines evaluate. Returns (dist_nano, n_bins)."""
    nb = len(a6)

    def half_up(x: int, y: int) -> int:
        return (2 * x + y) // (2 * y)

    u = [1000000] * nb
    v = [1000000] * nb
    for _ in range(_OT_ITERS):
        for i in range(nb):
            kv = sum(_OT_K9[i][j] * v[j] for j in range(nb))
            u[i] = half_up(a6[i] * 1000000000000, max(kv // 1000, 1))
        for j in range(nb):
            ku = sum(_OT_K9[i][j] * u[i] for i in range(nb))
            v[j] = half_up(b6[j] * 1000000000000, max(ku // 1000, 1))
    dist9 = 0
    for i in range(nb):
        for j in range(nb):
            c = _ot_cost(i, j)
            if c == 0.0:
                continue
            t = (
                (u[i] / 1e6)
                * (_OT_K9[i][j] / 1e9)
                * (v[j] / 1e6)
                * c
            )
            # half-up of the identical double the oracle rounds
            # (floor(x + 0.5) ≡ round-half-away for positive x off ties)
            dist9 += int(_math.floor(t * _OT_NANO + 0.5))
    return dist9, nb


@query("q_sinkhorn_ot", oracle=None)  # oracle registered below
def q_sinkhorn_ot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X697 — entropic optimal transport distance (Cuturi 2013,
    Sinkhorn-Knopp scaling) between each source's (language ×
    length-bucket) distribution and the corpus distribution, under a
    genuinely 2-D ground cost (language mismatch + scaled length
    distance) — the dataset-drift measure when bins have STRUCTURE:
    KL/JS (X431) treat bins as exchangeable and 1-D EMD (X262) needs
    an ordinal line; OT prices how far probability mass must MOVE.

    Determinism: marginals are micro-unit integers; the kernel
    K = exp(−C/ε) is a precomputed 1e-9 integer table (module
    constant — both engines consume the same integers); the scaling
    recurrences are exact integer half-up divisions; transport-cost
    cells are evaluated as one fixed-shape double expression from
    exact integers and quantized to 1e-9 before the integer sum. The
    oracle unrolls the identical recurrence as {_OT_ITERS} CTE
    iterations over the 25-bin grid.

    Spark-first split (the X687 pattern): the O(corpus) work — bin
    counting — is one combinable groupBy; Sinkhorn itself is
    fixed-size per-ledger math (25 bins, 3 iterations) folded inside
    one applyInPandas over sources, so ledgers scale out and no
    driver loop exists.

    Scale: one groupBy over (source, lang, bucket); state per source
    is 50 integers. 100 TB: identical plan."""
    d = load(spark, sf_dir, "documents")
    nb = len(_OT_LANGS) * _OT_NB
    bin_idx = (
        F.expr(_OT_LANG_CASE) * _OT_NB
        + F.least(F.expr("n_chars div 120"), F.lit(_OT_NB - 1))
    ).alias("bin")
    cnt = d.select("source", bin_idx).groupBy("source", "bin").agg(
        F.count("*").alias("c")
    )
    tot = d.groupBy(
        F.expr(_OT_LANG_CASE).alias("li"),
        F.least(F.expr("n_chars div 120"), F.lit(_OT_NB - 1)).alias("bk"),
    ).agg(F.count("*").alias("c"))
    corpus_rows = tot.collect()
    n_corpus = sum(r["c"] for r in corpus_rows)
    a_cnt = [0] * nb
    for r in corpus_rows:
        a_cnt[r["li"] * _OT_NB + r["bk"]] = r["c"]
    a6 = [
        (2 * 1000000 * c + n_corpus) // (2 * n_corpus) for c in a_cnt
    ]

    def fold(pdf):
        import pandas as pd

        src = pdf["source"].iloc[0]
        n_src = int(pdf["c"].sum())
        b_cnt = [0] * nb
        for _, row in pdf.iterrows():
            b_cnt[int(row["bin"])] = int(row["c"])
        b6 = [
            (2 * 1000000 * c + n_src) // (2 * n_src) for c in b_cnt
        ]
        dist9, _ = _ot_sinkhorn_int(a6, b6)
        return pd.DataFrame(
            {"source": [src], "n_docs": [n_src], "dist9": [dist9]}
        )

    out = cnt.groupBy("source").applyInPandas(
        fold, schema="source string, n_docs long, dist9 long"
    )
    return out.select(
        "source",
        "n_docs",
        (
            F.expr("(2 * dist9 + 1000) div 2000") / F.lit(1000000.0)
        ).alias("ot_dist"),
    ).orderBy("source")


def _ot_oracle() -> str:
    nb = len(_OT_LANGS) * _OT_NB
    kvals = ", ".join(
        f"({i}, {j}, {_OT_K9[i][j]}, {_ot_cost(i, j)})"
        for i in range(nb)
        for j in range(nb)
    )
    ctes = [
        f"bins AS (SELECT unnest(range({nb})) AS bin)",
        f"k AS (SELECT * FROM (VALUES {kvals}) t(i, j, k9, c))",
        f"""doc AS (
      SELECT source,
             ({_OT_LANG_CASE}) * {_OT_NB}
               + least(n_chars // 120, {_OT_NB - 1}) AS bin
      FROM documents)""",
        "corpus AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM doc GROUP BY bin)",
        "nc AS (SELECT sum(c) AS n FROM corpus)",
        f"""a AS (
      SELECT b.bin,
             {_half_up_sql('1000000 * coalesce(c.c, 0)', 'nc.n')} AS a6
      FROM bins b LEFT JOIN corpus c ON c.bin = b.bin CROSS JOIN nc)""",
        "srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM doc GROUP BY source)",
        f"""bc AS (
      SELECT s.source, b.bin,
             {_half_up_sql('1000000 * coalesce(x.c, 0)', 's.ns')} AS b6
      FROM srcs s CROSS JOIN bins b
      LEFT JOIN (SELECT source, bin, CAST(count(*) AS BIGINT) AS c
                 FROM doc GROUP BY source, bin) x
        ON x.source = s.source AND x.bin = b.bin)""",
        "v0 AS (SELECT source, bin AS j, CAST(1000000 AS BIGINT) AS v "
        "FROM srcs CROSS JOIN bins)",
    ]
    prev_v = "v0"
    for it in range(1, _OT_ITERS + 1):
        ctes.append(
            f"""u{it} AS (
      SELECT t.source, t.i,
             {_half_up_sql('a.a6 * 1000000000000', 't.den')} AS u
      FROM (SELECT v.source, k.i,
                   greatest(sum(k.k9 * v.v) // 1000, 1) AS den
            FROM {prev_v} v JOIN k ON k.j = v.j
            GROUP BY v.source, k.i) t
      JOIN a ON a.bin = t.i)"""
        )
        ctes.append(
            f"""v{it} AS (
      SELECT t.source, t.j,
             {_half_up_sql('b.b6 * 1000000000000', 't.den')} AS v
      FROM (SELECT u.source, k.j,
                   greatest(sum(k.k9 * u.u) // 1000, 1) AS den
            FROM u{it} u JOIN k ON k.i = u.i
            GROUP BY u.source, k.j) t
      JOIN bc b ON b.source = t.source AND b.bin = t.j)"""
        )
        prev_v = f"v{it}"
    last = _OT_ITERS
    ctes.append(
        f"""terms AS (
      SELECT u.source,
             CAST(round(1000000000 * ((u.u / 1000000.0)
                  * (k.k9 / 1000000000.0) * (v.v / 1000000.0) * k.c))
                  AS BIGINT) AS t9
      FROM u{last} u
      JOIN k ON k.i = u.i
      JOIN v{last} v ON v.source = u.source AND v.j = k.j)"""
    )
    ctes.append(
        "agg AS (SELECT source, sum(t9) AS dist9 FROM terms GROUP BY source)"
    )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT g.source, s.ns AS n_docs,
           ((2 * g.dist9 + 1000) // 2000) / 1000000.0 AS ot_dist
    FROM agg g JOIN srcs s ON s.source = g.source
    ORDER BY g.source
    """


from .registry import ORACLES as _REG_ORACLES  # noqa: E402

_REG_ORACLES["q_sinkhorn_ot"] = _ot_oracle()


# ---------------------------------------------------------------------------
# X698 — NPMI topic coherence of the NMF topics
# ---------------------------------------------------------------------------

_TC_TOPW = 10

_TC_ORACLE = f"""
    WITH topics AS (
      SELECT doc_id, topic FROM ({_REG_ORACLES['q_nmf_topics']}) t),
    pres AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest({_text.tokens_sql('text')}) AS w
        FROM documents)),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    tw AS (
      SELECT t.topic, p.w, CAST(count(*) AS BIGINT) AS cnt
      FROM topics t JOIN pres p ON p.doc_id = t.doc_id
      GROUP BY t.topic, p.w),
    top AS (
      SELECT topic, w,
             row_number() OVER (PARTITION BY topic
                                ORDER BY cnt DESC, w) AS rn
      FROM tw),
    topw AS (SELECT topic, w FROM top WHERE rn <= {_TC_TOPW}),
    pairs AS (
      SELECT a.topic, a.w AS wa, b.w AS wb
      FROM topw a JOIN topw b ON b.topic = a.topic AND a.w < b.w),
    dfw AS (
      SELECT w, CAST(count(*) AS BIGINT) AS na FROM pres GROUP BY w),
    cand AS (SELECT DISTINCT w FROM topw),
    presc AS (
      SELECT p.doc_id, p.w FROM pres p JOIN cand c ON c.w = p.w),
    co AS (
      SELECT p.topic, p.wa, p.wb, CAST(count(x.doc_id) AS BIGINT) AS nab
      FROM pairs p
      LEFT JOIN (SELECT a.doc_id, a.w AS wa, b.w AS wb
                 FROM presc a JOIN presc b
                   ON b.doc_id = a.doc_id AND a.w < b.w) x
        ON x.wa = p.wa AND x.wb = p.wb
      GROUP BY p.topic, p.wa, p.wb),
    npmi AS (
      SELECT c.topic,
             CASE WHEN c.nab = 0 THEN CAST(-1000000000 AS BIGINT)
                  ELSE CAST(round(1000000000 *
                    (ln((c.nab * 1.0 * nd.n) / (da.na * 1.0 * db.na))
                     / (-ln(c.nab * 1.0 / nd.n)))) AS BIGINT)
             END AS p9
      FROM co c
      JOIN dfw da ON da.w = c.wa
      JOIN dfw db ON db.w = c.wb
      CROSS JOIN nd)
    SELECT CAST(topic AS BIGINT) AS topic,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN sum(p9) >= 0
             THEN {_half_up_sql('sum(p9)', 'count(*) * 1000')}
             ELSE -{_half_up_sql('-sum(p9)', 'count(*) * 1000')} END
             AS BIGINT) / 1000000.0 AS coherence
    FROM npmi GROUP BY topic ORDER BY topic
    """


@query("q_topic_coherence", oracle=_TC_ORACLE)
def q_topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X698 — NPMI topic coherence (Bouma 2009; the standard topic-
    model eval, Röder et al.'s C_NPMI): for each NMF topic (X634's
    q_nmf_topics assignments), take the 10 most document-frequent
    words among its member docs and average the normalized PMI
    ln(p(a,b)/(p(a)p(b))) / −ln p(a,b) over the 45 word pairs, with
    document-level co-occurrence probabilities; never-co-occurring
    pairs score the conventional −1. Coherence near 0 ⇒ the "topic"
    is a word-frequency artifact; substantially positive ⇒ its words
    actually travel together — the acceptance gate before topic
    labels are trusted downstream.

    Determinism: all probabilities are ratios of document counts;
    each pair's NPMI is one fixed-shape double expression quantized
    to 1e-9 before the per-topic integer mean (signed half-up).

    Scale: presence lists are a distinct-explode; candidate pairs are
    45 per topic (constant); presence is semi-join-pruned to the ≤40
    candidate words BEFORE the per-doc pair join, so co-occurrence
    counting is linear in docs with a constant per-doc pair bound —
    the topic assignment itself is X634's V-keyed NMF."""
    from .round8b import q_nmf_topics as _nmf

    topics = _nmf(spark, sf_dir).select("doc_id", "topic")
    docs = load(spark, sf_dir, "documents")
    # fan the single-split scan out for the tokenize+explode (guide
    # §2.6). pres is NOT checkpointed: materializing the full exploded
    # frame costs more than the re-tokenizations it saves (measured
    # 9.0 s vs 6.7 s baseline with an eager cut here) — the three
    # consumers each prune it differently, so re-evaluation stays on
    # the fanned-out scan
    pres = docs.repartition(default_parallelism()).select(
        "doc_id",
        F.explode(F.array_distinct(_text.tokens(F.col("text")))).alias("w"),
    )
    nd = docs.count()
    tw = (
        topics.join(pres, "doc_id")
        .groupBy("topic", "w")
        .agg(F.count("*").alias("cnt"))
    )
    wtop = W.partitionBy("topic").orderBy(F.desc("cnt"), "w")
    # topw is referenced three times (both pair sides + the candidate
    # set); un-materialized, each reference re-runs the ENTIRE NMF
    # topic assignment feeding tw (guide §2.4) — the frame is
    # n_topics × 10 rows, so the checkpoint is microscopic
    topw = (
        tw.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _TC_TOPW)
        .select("topic", "w")
        .localCheckpoint(eager=True)
    )
    pairs = (
        topw.alias("a")
        .join(topw.alias("b"), "topic")
        .filter(F.col("a.w") < F.col("b.w"))
        .select("topic", F.col("a.w").alias("wa"), F.col("b.w").alias("wb"))
    )
    dfw = pres.groupBy("w").agg(F.count("*").alias("na"))
    cand = topw.select("w").distinct()
    presc = pres.join(F.broadcast(cand), "w", "semi")
    copairs = (
        presc.alias("x")
        .join(
            presc.select(F.col("doc_id"), F.col("w").alias("wb")).alias("y"),
            "doc_id",
        )
        .filter(F.col("x.w") < F.col("wb"))
        .select(F.col("x.w").alias("wa"), "wb", "doc_id")
    )
    co = (
        pairs.join(copairs, ["wa", "wb"], "left")
        .groupBy("topic", "wa", "wb")
        .agg(F.count("doc_id").alias("nab"))
    )
    npmi = (
        co.join(dfw.select(F.col("w").alias("wa"), F.col("na").alias("naa")), "wa")
        .join(dfw.select(F.col("w").alias("wb"), F.col("na").alias("nab_df")), "wb")
        .select(
            "topic",
            F.when(F.col("nab") == 0, F.lit(-1000000000).cast("long"))
            .otherwise(
                F.round(
                    1000000000
                    * (
                        F.log(
                            (F.col("nab") * 1.0 * nd)
                            / (F.col("naa") * 1.0 * F.col("nab_df"))
                        )
                        / (-F.log(F.col("nab") * 1.0 / nd))
                    )
                ).cast("long")
            )
            .alias("p9"),
        )
    )
    return (
        npmi.groupBy(F.col("topic").cast("long").alias("topic"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (
                F.expr(
                    "CASE WHEN sum(p9) >= 0 THEN "
                    "(2 * sum(p9) + count(*) * 1000) div (2 * count(*) * 1000)"
                    " ELSE -((2 * (-sum(p9)) + count(*) * 1000)"
                    " div (2 * count(*) * 1000)) END"
                )
                / F.lit(1000000.0)
            ).alias("coherence"),
        )
        .orderBy("topic")
    )


# ---------------------------------------------------------------------------
# X699 — Self-BLEU diversity audit over candidate groups
# ---------------------------------------------------------------------------

_SB_NANO = 1000000000


def _wgrams_sql(toks: str, n: int) -> str:
    if n == 1:
        return toks
    parts = " || ' ' || ".join(f"{toks}[i + {k + 1}]" for k in range(n))
    return (
        f"(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(len({toks}) - {n - 1}), i -> {parts}) "
        f"ELSE [] END)"
    )


_SB_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {_MBR_MOD} AS prompt_id,
             {_text.tokens_sql('text')} AS t
      FROM documents),
    grams AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_wgrams_sql('t', 2)}) AS g
        FROM toks)
      GROUP BY doc_id, n, g),
    tot AS (SELECT doc_id, n, sum(c) AS tc FROM grams GROUP BY doc_id, n),
    lens AS (SELECT doc_id, len(t) AS lw FROM toks),
    pairs AS (
      SELECT a.prompt_id, a.doc_id AS ci, b.doc_id AS ri
      FROM toks a JOIN toks b
        ON b.prompt_id = a.prompt_id AND b.doc_id <> a.doc_id),
    ov AS (
      SELECT p.ci, p.ri, cg.n, sum(least(cg.c, rg.c)) AS ov
      FROM pairs p
      JOIN grams cg ON cg.doc_id = p.ci
      JOIN grams rg ON rg.doc_id = p.ri AND rg.n = cg.n AND rg.g = cg.g
      GROUP BY p.ci, p.ri, cg.n),
    pn AS (
      SELECT p.prompt_id, p.ci, p.ri,
             coalesce(max(CASE WHEN t.n = 1 THEN o.ov END), 0) AS ov1,
             coalesce(max(CASE WHEN t.n = 2 THEN o.ov END), 0) AS ov2,
             max(CASE WHEN t.n = 1 THEN t.tc END) AS tc1,
             max(CASE WHEN t.n = 2 THEN t.tc END) AS tc2
      FROM pairs p
      JOIN tot t ON t.doc_id = p.ci
      LEFT JOIN ov o ON o.ci = p.ci AND o.ri = p.ri AND o.n = t.n
      GROUP BY p.prompt_id, p.ci, p.ri),
    sc AS (
      SELECT prompt_id, ci,
             CASE WHEN ov1 = 0 OR ov2 = 0 OR coalesce(tc2, 0) = 0 THEN 0
                  ELSE CAST(round({_SB_NANO} *
                    ((CASE WHEN lc.lw < lr.lw
                           THEN exp(1.0 - lr.lw * 1.0 / lc.lw)
                           ELSE 1.0 END)
                     * sqrt((ov1 * 1.0 / tc1) * (ov2 * 1.0 / tc2))))
                    AS BIGINT)
             END AS q9
      FROM pn
      JOIN lens lc ON lc.doc_id = pn.ci
      JOIN lens lr ON lr.doc_id = pn.ri)
    SELECT CAST(prompt_id AS BIGINT) AS prompt_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {_half_up_sql('sum(q9)', 'count(*) * 1000')} / 1000000.0
             AS self_bleu
    FROM sc GROUP BY prompt_id ORDER BY prompt_id
    """


@query("q_self_bleu", oracle=_SB_ORACLE)
def q_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X699 — Self-BLEU diversity audit (Zhu et al. 2018, Texygen):
    within each prompt group, mean pairwise BLEU-2 of every candidate
    against every other — HIGH self-BLEU means the sampler is
    collapsing onto one phrasing (mode collapse), the failure mode
    X682's MBR consensus would then happily select for; the two
    numbers are read together. BLEU-2 = BP·√(p1·p2) with clipped
    modified precisions and the standard brevity penalty; pairs with
    a zero precision score exactly 0.

    Determinism: overlaps/totals are integer gram counts; each pair's
    score is one fixed-shape IEEE expression (sqrt form — no log sum)
    quantized to 1e-9 before the per-prompt integer mean.

    Scale: gram tables are combinable groupBys; the pair join is
    group-local (sampler's n² per prompt, linear in prompts) and the
    overlap join is keyed by (doc, n, gram)."""
    # fan the single-split scan out and materialize the token arrays
    # once — toks feeds the gram tables, the length table and both pair
    # sides (guide §2.4/§2.6)
    toks = (
        load(spark, sf_dir, "documents")
        .repartition(default_parallelism())
        .select(
            "doc_id",
            (F.col("doc_id") % _MBR_MOD).alias("prompt_id"),
            _text.tokens(F.col("text")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    uni = toks.select("doc_id", F.lit(1).alias("n"), F.explode("t").alias("g"))
    bi = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i + 1), F.element_at("t", i + 2)
                ),
            )
        ).alias("g"),
    )
    # gram table with the prompt key attached once, materialized: it is
    # both sides of the overlap self-join AND the per-doc totals
    grams = (
        uni.unionAll(bi)
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").cast("long").alias("c"))
        .join(toks.select("doc_id", "prompt_id"), "doc_id")
        .localCheckpoint(eager=True)
    )
    tot = grams.groupBy("doc_id", "n").agg(F.sum("c").alias("tc"))
    lens = toks.select("doc_id", F.size("t").cast("long").alias("lw"))
    pairs = (
        toks.select("prompt_id", F.col("doc_id").alias("ci"))
        .join(
            toks.select("prompt_id", F.col("doc_id").alias("ri")),
            "prompt_id",
        )
        .filter(F.col("ci") != F.col("ri"))
    )
    # overlap via the gram-keyed SELF-JOIN, not pairs × grams: joining on
    # (prompt, n, g) first shuffles Σ df² gram-match rows (~5M at sf0.1)
    # instead of fanning every ordered pair out by its full gram list
    # (~25M) before the (ri, n, g) probe — guide §3 (reduce the join's
    # input, join on the selective key first). Row set is identical:
    # exactly the ordered same-prompt pairs sharing ≥1 gram, summed over
    # shared grams with least(cc, cr).
    ov = (
        grams.select(
            "prompt_id", F.col("doc_id").alias("ci"), "n", "g",
            F.col("c").alias("cc"),
        )
        .join(
            grams.select(
                F.col("prompt_id").alias("rp"),
                F.col("doc_id").alias("ri"), F.col("n").alias("rn_"),
                F.col("g").alias("rg"), F.col("c").alias("cr"),
            ),
            (F.col("prompt_id") == F.col("rp"))
            & (F.col("n") == F.col("rn_"))
            & (F.col("g") == F.col("rg"))
            & (F.col("ci") != F.col("ri")),
        )
        .groupBy("ci", "ri", "n")
        .agg(F.sum(F.least("cc", "cr")).alias("ov"))
    )
    pn = (
        pairs.join(tot.select(F.col("doc_id").alias("ci"), "n", "tc"), "ci")
        .join(ov, ["ci", "ri", "n"], "left")
        .groupBy("prompt_id", "ci", "ri")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("n") == 1, F.col("ov"))), F.lit(0)
            ).alias("ov1"),
            F.coalesce(
                F.max(F.when(F.col("n") == 2, F.col("ov"))), F.lit(0)
            ).alias("ov2"),
            F.max(F.when(F.col("n") == 1, F.col("tc"))).alias("tc1"),
            F.max(F.when(F.col("n") == 2, F.col("tc"))).alias("tc2"),
        )
    )
    bp = F.when(
        F.col("lc") < F.col("lr"),
        F.exp(1.0 - F.col("lr") * 1.0 / F.col("lc")),
    ).otherwise(F.lit(1.0))
    score = bp * F.sqrt(
        (F.col("ov1") * 1.0 / F.col("tc1"))
        * (F.col("ov2") * 1.0 / F.col("tc2"))
    )
    sc = (
        pn.join(
            lens.select(F.col("doc_id").alias("ci"), F.col("lw").alias("lc")),
            "ci",
        )
        .join(
            lens.select(F.col("doc_id").alias("ri"), F.col("lw").alias("lr")),
            "ri",
        )
        .select(
            "prompt_id",
            F.when(
                (F.col("ov1") == 0)
                | (F.col("ov2") == 0)
                | (F.coalesce(F.col("tc2"), F.lit(0)) == 0),
                F.lit(0).cast("long"),
            )
            .otherwise(F.round(_SB_NANO * score).cast("long"))
            .alias("q9"),
        )
    )
    return (
        sc.groupBy(F.col("prompt_id").cast("long").alias("prompt_id"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (
                _half_up_col("sum(q9)", "count(*) * 1000") / F.lit(1000000.0)
            ).alias("self_bleu"),
        )
        .orderBy("prompt_id")
    )


# ---------------------------------------------------------------------------
# X700 — spectral bipartition (power iteration on the lazy walk)
# ---------------------------------------------------------------------------

_SP_ITERS = 5
_SP_MICRO = 1000000


def _sp_iter_sql(prev: str, cur: str) -> str:
    """One deflated lazy-walk power iteration in exact micro integers:
    y = (x + A·x/deg)/2, project off the degree-weighted constant
    vector, renormalize to max |y| = 1e6."""
    return f"""
    n{cur} AS MATERIALIZED (
      SELECT d.a,
             {prev}.x AS x,
             CASE WHEN s.s >= 0
                  THEN (2 * s.s + d.deg) // (2 * d.deg)
                  ELSE -((2 * (-s.s) + d.deg) // (2 * d.deg)) END AS ax
      FROM deg d
      JOIN {prev} ON {prev}.a = d.a
      JOIN (SELECT sym.a, sum(p.x) AS s
            FROM sym JOIN {prev} p ON p.a = sym.b
            GROUP BY sym.a) s ON s.a = d.a),
    y{cur} AS MATERIALIZED (
      SELECT a, CASE WHEN x + ax >= 0 THEN (x + ax) // 2
                     ELSE -(((-(x + ax)) + 1) // 2) END AS y
      FROM n{cur}),
    m{cur} AS (
      SELECT CASE WHEN sum(d.deg * y.y) >= 0
                  THEN (2 * sum(d.deg * y.y) + sum(d.deg))
                       // (2 * sum(d.deg))
                  ELSE -((2 * (-sum(d.deg * y.y)) + sum(d.deg))
                         // (2 * sum(d.deg))) END AS m
      FROM y{cur} y JOIN deg d ON d.a = y.a),
    z{cur} AS MATERIALIZED (
      SELECT y.a, y.y - m.m AS z FROM y{cur} y CROSS JOIN m{cur} m),
    mx{cur} AS (
      SELECT greatest(max(abs(z)), 1) AS mx FROM z{cur}),
    {cur} AS MATERIALIZED (
      SELECT z.a,
             CASE WHEN z.z >= 0
                  THEN (2 * {_SP_MICRO} * z.z + mx.mx) // (2 * mx.mx)
                  ELSE -((2 * {_SP_MICRO} * (-z.z) + mx.mx)
                         // (2 * mx.mx)) END AS x
      FROM z{cur} z CROSS JOIN mx{cur} mx)"""


def _sp_oracle() -> str:
    from .graph_ext import _EDGES_SQL

    iters = "".join(
        "," + _sp_iter_sql(f"x{i}", f"x{i + 1}") for i in range(_SP_ITERS)
    )
    last = f"x{_SP_ITERS}"
    return f"""
    WITH {_EDGES_SQL.replace("sym AS (", "sym AS MATERIALIZED (")},
    deg AS MATERIALIZED (
      SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
    x0 AS MATERIALIZED (
      SELECT a, CAST(CASE WHEN (a // 2) % 2 = 0 THEN {_SP_MICRO}
                          ELSE -{_SP_MICRO} END AS BIGINT) AS x
      FROM deg)
    {iters},
    side AS (SELECT a, x >= 0 AS s FROM {last}),
    vols AS (
      SELECT CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN s THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             sum(CASE WHEN s THEN d.deg ELSE 0 END) AS vol_a,
             sum(CASE WHEN s THEN 0 ELSE d.deg END) AS vol_b
      FROM side JOIN deg d ON d.a = side.a),
    cut AS (
      SELECT CAST(count(*) AS BIGINT) AS cut_edges
      FROM sym
      JOIN side sa ON sa.a = sym.a
      JOIN side sb ON sb.a = sym.b
      WHERE sa.s <> sb.s)
    SELECT v.n_a, v.n_b, CAST(v.vol_a AS BIGINT) AS vol_a,
           CAST(v.vol_b AS BIGINT) AS vol_b,
           c.cut_edges // 2 AS cut_edges,
           ((2 * {_SP_MICRO} * (c.cut_edges // 2)
             + least(v.vol_a, v.vol_b))
            // (2 * least(v.vol_a, v.vol_b))) / 1000000.0 AS conductance
    FROM vols v CROSS JOIN cut c
    """


@query("q_spectral_cut", oracle=_sp_oracle())
def q_spectral_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X700 — spectral bipartition of the supplier-customer graph
    (the X174/X294/X500 graph): {_SP_ITERS} deflated power iterations
    of the lazy random walk y = (x + Ax/d)/2 — projecting off the
    degree-weighted constant vector leaves the walk's second
    eigenvector, whose sign pattern is the classic spectral 2-way cut
    (Shi-Malik flavor) — then the cut's conductance, scored by the
    same φ = cut/min(vol) that X500 applies to LPA communities.
    Label propagation finds dense communities; the spectral sign cut
    finds the global BALANCED separator — complementary structure.

    Determinism: the iteration state is exact micro-integer
    throughout (signed half-up for Ax/d, mean deflation and max-norm
    renormalization), so the sign pattern cannot differ between
    engines; init is the deterministic ±1 parity vector.

    Scale: each iteration is one vertex-keyed join + one edge-keyed
    aggregate — the PageRank shape; 5 iterations, no driver state."""
    from .graph_ext import _edges

    # hash-partition the edge table by its probe key ONCE: the per-
    # iteration neighbor-sum join and the final cut join both probe
    # sym on `b`, so the persisted partitioning removes the edge-table
    # exchange from every iteration (guide §2.4)
    sym = (
        _edges(spark, sf_dir)
        .repartition(default_parallelism(), "b")
        .persist()
    )
    # deg and each iteration's neighbor-sum s are the only frames whose
    # computation touches the (large) edge table; both are vertex-sized.
    # Eagerly materializing them means every downstream reference — the
    # two scalar-aggregate broadcasts (m, mx) nest the same subtree —
    # re-reads ~|V| rows instead of re-running the |E|-row join+aggregate
    # (guide §2.4/§5: the m/mx BroadcastExchanges otherwise each
    # re-evaluate the sym⋈x join, tripling the per-iteration edge work).
    deg = (
        sym.groupBy("a")
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    x = deg.select(
        "a",
        F.when(F.expr("(a div 2) % 2 = 0"), F.lit(_SP_MICRO))
        .otherwise(F.lit(-_SP_MICRO))
        .cast("long")
        .alias("x"),
    )

    def hu_signed(num: str, den: str) -> F.Column:
        return F.expr(
            f"CASE WHEN {num} >= 0 THEN (2 * ({num}) + ({den})) "
            f"div (2 * ({den})) ELSE -((2 * (-({num})) + ({den})) "
            f"div (2 * ({den}))) END"
        )

    for _ in range(_SP_ITERS):
        s = (
            sym.join(x.select(F.col("a").alias("b"), "x"), "b")
            .groupBy("a")
            .agg(F.sum("x").alias("s"))
            .localCheckpoint(eager=True)
        )
        n = (
            deg.join(x, "a")
            .join(s, "a")
            .select("a", "deg", "x", hu_signed("s", "deg").alias("ax"))
        )
        y = n.select(
            "a",
            "deg",
            F.expr(
                "CASE WHEN x + ax >= 0 THEN (x + ax) div 2 "
                "ELSE -(((-(x + ax)) + 1) div 2) END"
            ).alias("y"),
        )
        m = y.agg(
            hu_signed("sum(deg * y)", "sum(deg)").alias("m")
        )
        z = y.crossJoin(F.broadcast(m)).select(
            "a", (F.col("y") - F.col("m")).alias("z")
        )
        mx = z.agg(
            F.greatest(F.max(F.abs(F.col("z"))), F.lit(1)).alias("mx")
        )
        x = (
            z.crossJoin(F.broadcast(mx))
            .select(
                "a",
                hu_signed(f"{_SP_MICRO} * z", "mx").alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    side = x.select("a", (F.col("x") >= 0).alias("s"))
    vols = (
        side.join(deg, "a")
        .agg(
            F.sum(F.col("s").cast("long")).cast("long").alias("n_a"),
            F.sum((~F.col("s")).cast("long")).cast("long").alias("n_b"),
            F.sum(F.when(F.col("s"), F.col("deg")).otherwise(0)).alias(
                "vol_a"
            ),
            F.sum(F.when(~F.col("s"), F.col("deg")).otherwise(0)).alias(
                "vol_b"
            ),
        )
    )
    cut = (
        sym.join(side.select(F.col("a"), F.col("s").alias("sa")), "a")
        .join(
            side.select(F.col("a").alias("b"), F.col("s").alias("sb")), "b"
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count("*").cast("long").alias("ce2"))
    )
    return vols.crossJoin(F.broadcast(cut)).select(
        "n_a",
        "n_b",
        F.col("vol_a").cast("long").alias("vol_a"),
        F.col("vol_b").cast("long").alias("vol_b"),
        F.expr("ce2 div 2").alias("cut_edges"),
        (
            F.expr(
                f"(2 * {_SP_MICRO} * (ce2 div 2) + least(vol_a, vol_b)) "
                "div (2 * least(vol_a, vol_b))"
            )
            / F.lit(1000000.0)
        ).alias("conductance"),
    )


# ---------------------------------------------------------------------------
# X701 — Group DRO reweighting
# ---------------------------------------------------------------------------

_DRO_ETA = 0.01  # multiplicative-weights step on mean group loss

_DRO_ORACLE = f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             {_half_up_sql(
                 '10000 * sum(CAST(round(value * 100) AS BIGINT))',
                 'count(*)')} AS l_micro
      FROM events GROUP BY event_type),
    mx AS (SELECT max(l_micro) AS m FROM g),
    e AS (
      SELECT g.event_type, g.n, g.l_micro,
             CAST(round(1000000000 * exp({_DRO_ETA}
                  * ((g.l_micro - mx.m) / 10000.0))) AS BIGINT) AS e9
      FROM g CROSS JOIN mx),
    s AS (SELECT sum(e9) AS se FROM e)
    SELECT e.event_type, e.n,
           e.l_micro / 10000.0 AS mean_loss,
           {_half_up_sql('1000000 * e.e9', 's.se')} / 1000000.0 AS dro_weight
    FROM e CROSS JOIN s ORDER BY e.event_type
    """


@query("q_group_dro", oracle=_DRO_ORACLE)
def q_group_dro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X701 — Group DRO reweighting (Sagawa et al. 2020): the
    worst-group-robust training weights w_g ∝ exp(η·L_g) over group
    mean losses — the standard fix when average-loss training lets a
    minority group (language, source, demographic slice) be sacrificed;
    with static per-group losses the multiplicative-weights ascent
    collapses to one max-stabilized softmax. Groups are event_type;
    losses are exact integer-cents means lifted to micro units.

    Determinism: losses are integers; exp is evaluated once per group
    on the max-centered value (identical doubles), quantized to 1e-9;
    normalization is integer half-up.

    Scale: one combinable groupBy + a |groups|-row softmax."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        _half_up_col(
            "10000 * sum(CAST(round(value * 100) AS BIGINT))", "count(*)"
        ).alias("l_micro"),
    )
    mx = g.agg(F.max("l_micro").alias("m"))
    ex = g.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "n",
        "l_micro",
        F.round(
            1000000000
            * F.exp(_DRO_ETA * ((F.col("l_micro") - F.col("m")) / 10000.0))
        )
        .cast("long")
        .alias("e9"),
    )
    s = ex.agg(F.sum("e9").alias("se"))
    return (
        ex.crossJoin(F.broadcast(s))
        .select(
            "event_type",
            "n",
            (F.col("l_micro") / F.lit(10000.0)).alias("mean_loss"),
            (
                _half_up_col("1000000 * e9", "se") / F.lit(1000000.0)
            ).alias("dro_weight"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# X702 — ∞-gram longest-suffix continuation (infini-gram)
# ---------------------------------------------------------------------------

_IG_PROBE_MOD = 50  # probe docs: doc_id % 50 == 0


def _ig_gram_sql(n: int) -> str:
    """(prefix of n−1 space-joined tokens, next token, count)."""
    p = " || ' ' || ".join(f"t[i + {k + 1}]" for k in range(n - 1))
    return f"""
      SELECT {p} AS p, t[i + {n}] AS w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT t, unnest(range(len(t) - {n - 1})) AS i FROM toks)
      GROUP BY p, w"""


_IG_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_text.tokens_sql('text')} AS t FROM documents
      WHERE len({_text.tokens_sql('text')}) >= 4),
    g2 AS ({_ig_gram_sql(2)}),
    g3 AS ({_ig_gram_sql(3)}),
    g4 AS ({_ig_gram_sql(4)}),
    t2 AS (SELECT p, w, c, row_number() OVER (PARTITION BY p
             ORDER BY c DESC, w) AS rn, sum(c) OVER (PARTITION BY p) AS tc
           FROM g2),
    t3 AS (SELECT p, w, c, row_number() OVER (PARTITION BY p
             ORDER BY c DESC, w) AS rn, sum(c) OVER (PARTITION BY p) AS tc
           FROM g3),
    t4 AS (SELECT p, w, c, row_number() OVER (PARTITION BY p
             ORDER BY c DESC, w) AS rn, sum(c) OVER (PARTITION BY p) AS tc
           FROM g4),
    probes AS (
      SELECT doc_id, t[1] || ' ' || t[2] || ' ' || t[3] AS s3,
             t[2] || ' ' || t[3] AS s2, t[3] AS s1
      FROM toks WHERE doc_id % {_IG_PROBE_MOD} = 0)
    SELECT pr.doc_id,
           CAST(CASE WHEN a.p IS NOT NULL THEN 3
                WHEN b.p IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
             AS suffix_len,
           coalesce(a.w, b.w, c.w) AS next_token,
           coalesce(a.c, b.c, c.c) AS cnt,
           {_half_up_sql('1000000 * coalesce(a.c, b.c, c.c)',
                         'coalesce(a.tc, b.tc, c.tc)')} / 1000000.0
             AS prob
    FROM probes pr
    LEFT JOIN t4 a ON a.p = pr.s3 AND a.rn = 1
    LEFT JOIN t3 b ON b.p = pr.s2 AND b.rn = 1
    LEFT JOIN t2 c ON c.p = pr.s1 AND c.rn = 1
    ORDER BY pr.doc_id
    """


@query("q_infinigram", oracle=_IG_ORACLE)
def q_infinigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X702 — ∞-gram / longest-suffix continuation (Liu et al. 2024,
    infini-gram): instead of a fixed n, back off from the LONGEST
    context suffix with nonzero corpus count and read the next-token
    distribution there — the n-gram LM revived at trillion-token
    scale for membership/novelty analysis and speculative drafting.
    Probe contexts are the first 3 tokens of every 50th document;
    the engine reports the matched suffix length, the argmax
    continuation, and its probability within the matched context.

    Determinism: counts and totals are integers; the probability is
    one integer half-up division; argmax ties break on token order.

    Scale: suffix tables are combinable (prefix, next) groupBys —
    exactly the X613 BPE / X623 LM-count shape; probes join by
    prefix hash. The real system's suffix array collapses all n into
    one structure; the leveled tables here are the bounded-n slice
    of it (n ≤ 4), each linear in corpus tokens."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", _text.tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 4)
    )

    def grams(n: int) -> DataFrame:
        return (
            toks.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - n),
                        lambda i: F.struct(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at("t", i + k + 1)
                                    for k in range(n - 1)
                                ],
                            ).alias("p"),
                            F.element_at("t", i + n).alias("w"),
                        ),
                    )
                ).alias("g")
            )
            .groupBy(F.col("g.p").alias("p"), F.col("g.w").alias("w"))
            .agg(F.count("*").cast("long").alias("c"))
        )

    def top(gdf: DataFrame) -> DataFrame:
        wp = W.partitionBy("p").orderBy(F.desc("c"), "w")
        wt = W.partitionBy("p")
        return (
            gdf.withColumn("rn", F.row_number().over(wp))
            .withColumn("tc", F.sum("c").over(wt))
            .filter(F.col("rn") == 1)
            .select("p", "w", "c", "tc")
        )

    t4, t3, t2 = top(grams(4)), top(grams(3)), top(grams(2))
    probes = toks.filter(F.col("doc_id") % _IG_PROBE_MOD == 0).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("t", 1),
            F.element_at("t", 2),
            F.element_at("t", 3),
        ).alias("s3"),
        F.concat_ws(" ", F.element_at("t", 2), F.element_at("t", 3)).alias(
            "s2"
        ),
        F.element_at("t", 3).alias("s1"),
    )
    j = (
        probes.join(
            t4.select(
                F.col("p").alias("s3"),
                F.col("w").alias("w4"),
                F.col("c").alias("c4"),
                F.col("tc").alias("tc4"),
            ),
            "s3",
            "left",
        )
        .join(
            t3.select(
                F.col("p").alias("s2"),
                F.col("w").alias("w3"),
                F.col("c").alias("c3"),
                F.col("tc").alias("tc3"),
            ),
            "s2",
            "left",
        )
        .join(
            t2.select(
                F.col("p").alias("s1"),
                F.col("w").alias("w2"),
                F.col("c").alias("c2"),
                F.col("tc").alias("tc2"),
            ),
            "s1",
            "left",
        )
    )
    return j.select(
        "doc_id",
        F.when(F.col("w4").isNotNull(), F.lit(3))
        .when(F.col("w3").isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("suffix_len"),
        F.coalesce("w4", "w3", "w2").alias("next_token"),
        F.coalesce("c4", "c3", "c2").alias("cnt"),
        (
            _half_up_col(
                "1000000 * coalesce(c4, c3, c2)", "coalesce(tc4, tc3, tc2)"
            )
            / F.lit(1000000.0)
        ).alias("prob"),
    ).orderBy("doc_id")
