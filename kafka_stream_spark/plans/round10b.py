"""Round-10 batch B (X718+): LM pruning, scaling-law fitting, tail
risk, sequential testing, MAUVE, and the classic probabilistic
sketches with measured error.

Reference scope note: §2.13 mandate extensions, reference-free.

- X718 q_stolcke_prune: entropy-criterion bigram-LM pruning scores
  (Stolcke 1998's first-order KL contribution vs the unigram backoff).
- X719 q_scaling_law_fit: log-log OLS power-law fit (the Kaplan/
  Chinchilla reduction) per group, closed-form in integer sums.
- X720 q_cvar_loss: CVaR@90 tail exposure per source.
- X721 q_sprt_decision: Wald's SPRT first-crossing decision per
  arena — order-dependent like Elo, window-expressible.
- X722 q_mauve_quantized: MAUVE divergence frontier over quantized
  sign-pattern histograms.
- X723 q_cms_sketch: count-min sketch (d=4, w=64) with measured
  overestimate on the tracked top-20 tokens.
- X724 q_bloom_fpr: Bloom filter (m=1024, k=3) with measured vs
  theoretical false-positive rate.
- X725 q_ucb_allocation: UCB1 arm scores — which arm a bandit
  allocator pulls next.

Determinism contract as round10: integer quantization before any
cross-engine sum; libm calls (ln/exp/sqrt/cos) only on bit-identical
double inputs, quantized per-row/cell before aggregation; every hash
is the portable md5-based token_hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import token_hash, token_hash_sql
from ..functions import text as _text
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql
from .round10 import _sh_col, _sh_sql

# ---------------------------------------------------------------------------
# X718 — entropy-criterion bigram pruning scores (Stolcke 1998)
# ---------------------------------------------------------------------------

_SP_TAU6 = 1000  # prunable iff the bigram's scaled KL term < 1e-3

_SP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_text.tokens_sql('text')} AS t FROM documents),
    uni AS (
      SELECT lang, u.tok, CAST(count(*) AS BIGINT) AS cw
      FROM toks, unnest(t) AS u(tok) GROUP BY lang, u.tok),
    tot AS (
      SELECT lang, sum(cw) AS n FROM uni GROUP BY lang),
    big AS (
      SELECT lang, h, w, CAST(count(*) AS BIGINT) AS chw
      FROM (
        SELECT lang, t[CAST(i + 1 AS INT)] AS h,
               t[CAST(i + 2 AS INT)] AS w
        FROM toks, unnest(range(len(t) - 1)) AS r(i))
      GROUP BY lang, h, w),
    hist AS (
      SELECT lang, h, sum(chw) AS ch FROM big GROUP BY lang, h),
    scored AS (
      SELECT b.lang, b.chw,
             CAST(round(1000000.0 * b.chw *
                  ln((b.chw * 1.0 * t.n) / (hh.ch * 1.0 * u.cw)))
                  AS BIGINT) AS t6
      FROM big b
      JOIN hist hh ON hh.lang = b.lang AND hh.h = b.h
      JOIN uni u ON u.lang = b.lang AND u.tok = b.w
      JOIN tot t ON t.lang = b.lang)
    SELECT s.lang, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN s.t6 < {_SP_TAU6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_prunable,
           {_sh_sql('sum(s.t6)', 'any_value(t.n)')} / 1000000.0
             AS kl_per_token
    FROM scored s JOIN tot t ON t.lang = s.lang
    GROUP BY s.lang ORDER BY s.lang
    """


@query("q_stolcke_prune", oracle=_SP_ORACLE)
def q_stolcke_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X718 — entropy-based n-gram pruning (Stolcke 1998), the
    criterion every shipped n-gram LM (SRILM/KenLM `prune`) uses to
    decide which bigrams survive: a bigram earns its parameter by its
    weighted log-ratio against the backoff distribution, here the
    first-order contribution D(h,w) = p(h,w)·ln(p(w|h)/p(w)) — which
    is also exactly the bigram's mutual-information mass. Low-scoring
    bigrams (D·N < 1e-3, integer threshold on the micro-quantized
    term) are prunable: the backoff predicts them almost as well.
    Reported per language: bigram-table size, prunable count, and the
    total KL-per-token the table buys over the unigram model.

    Determinism: counts are exact integers; each bigram's ln is a
    libm call on an identical double ratio of integers, quantized to
    a micro term per bigram BEFORE the language sum (signed half-up
    at the end).

    Scale: two combinable explode-counts (corpus-linear) joined on
    vocabulary-sized keys; no pairwise blowup — the bigram table is
    the data, not a cross product."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("lang", _text.tokens(F.col("text")).alias("t"))
    uni = (
        toks.select("lang", F.explode("t").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("cw"))
    )
    tot = uni.groupBy("lang").agg(F.sum("cw").alias("n"))
    big = (
        toks.filter(F.size("t") >= 2)  # sequence(0,-1) would descend
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> struct(t[i] AS h, t[i + 1] AS w))"
                )
            ).alias("hw"),
        )
        .select("lang", F.col("hw.h").alias("h"), F.col("hw.w").alias("w"))
        .groupBy("lang", "h", "w")
        .agg(F.count("*").cast("long").alias("chw"))
    )
    hist = big.groupBy("lang", "h").agg(F.sum("chw").alias("ch"))
    scored = (
        big.join(hist, ["lang", "h"])
        .join(
            uni.select("lang", F.col("tok").alias("w"), "cw"), ["lang", "w"]
        )
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "n",
            F.round(
                1000000.0
                * F.col("chw")
                * F.log(
                    (F.col("chw") * 1.0 * F.col("n"))
                    / (F.col("ch") * 1.0 * F.col("cw"))
                )
            )
            .cast("long")
            .alias("t6"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("t6") < _SP_TAU6, 1).otherwise(0))
            .cast("long")
            .alias("n_prunable"),
            (_sh_col("sum(t6)", "first(n)") / 1000000.0).alias(
                "kl_per_token"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X719 — power-law (scaling-law) OLS fit in log-log space
# ---------------------------------------------------------------------------

# per-point log coordinates at MILLI precision: keeps every OLS moment
# inside int64 for ≥ 1e7 points per group (documented bound)
_SL_ORACLE = f"""
    WITH pt AS (
      SELECT event_type,
             CAST(round(1000.0 * ln(count(*))) AS BIGINT) AS x3,
             CAST(round(1000.0 * ln(
               {_half_up_sql('10000 * sum(CAST(round(value * 100) AS BIGINT))',
                             'count(*)')} / 1000000.0)) AS BIGINT) AS y3
      FROM events GROUP BY event_type, user_id),
    mom AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x3) AS HUGEINT) AS sx,
             CAST(sum(y3) AS HUGEINT) AS sy,
             CAST(sum(x3 * y3) AS HUGEINT) AS sxy,
             CAST(sum(x3 * x3) AS HUGEINT) AS sxx
      FROM pt GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST({_sh_sql('1000 * (n * sxy - sx * sy)',
                         '(n * sxx - sx * sx)')} AS BIGINT) / 1000.0
             AS slope,
           CAST({_sh_sql('1000 * (sy * sxx - sx * sxy)',
                         '(n * sxx - sx * sx)')} AS BIGINT) / 1000.0
             AS intercept
    FROM mom ORDER BY event_type
    """


@query("q_scaling_law_fit", oracle=_SL_ORACLE)
def q_scaling_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X719 — power-law fit in log-log space, the workhorse reduction
    behind every scaling-law analysis (Kaplan 2020, Hoffmann 2022):
    y = a·x^b becomes ln y = ln a + b·ln x, and b falls out of
    closed-form OLS — no optimizer. Points are (per-user event count,
    per-user mean value) within each event_type; the slope b answers
    "does engagement scale with activity, and with what exponent" —
    structurally identical to fitting loss vs tokens per model
    family. X661 (Chinchilla) PLANS the compute split; this FITS the
    law from observations — the upstream step.

    Determinism: each point's (ln n, ln mean) is a libm pair on
    identical integer-derived doubles, quantized to MILLI units per
    point; all four OLS moments are then exact integer sums, and
    slope/intercept are two signed half-up ratios (milli precision)
    evaluated over BOUNDED group count in exact Python bigints (the
    X687/X708 distributed-count/driver-fit split; the oracle uses
    HUGEINT — sy·sxx exceeds int64, which Spark's sum cannot carry).

    Scale: one combinable two-level aggregate; moments are 5 integers
    per group, groups bounded."""
    e = load(spark, sf_dir, "events")
    pt = e.groupBy("event_type", "user_id").agg(
        F.round(1000.0 * F.log(F.count("*"))).cast("long").alias("x3"),
        F.round(
            1000.0
            * F.log(
                _half_up_col(
                    "10000 * sum(CAST(round(value * 100) AS BIGINT))",
                    "count(*)",
                )
                / 1000000.0
            )
        )
        .cast("long")
        .alias("y3"),
    )
    mom = pt.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x3").alias("sx"),
        F.sum("y3").alias("sy"),
        F.sum(F.col("x3") * F.col("y3")).alias("sxy"),
        F.sum(F.col("x3") * F.col("x3")).alias("sxx"),
    )
    # groups are BOUNDED (event types), so the final two ratios are
    # driver math in exact Python bigints (the X687/X708 split) —
    # sy·sxx overflows int64, HUGEINT oracle / Python ints here
    rows = []
    for r in sorted(mom.collect(), key=lambda r: r["event_type"]):
        n, sx, sy = int(r["n"]), int(r["sx"]), int(r["sy"])
        sxy, sxx = int(r["sxy"]), int(r["sxx"])
        den = n * sxx - sx * sx

        def sh(a: int, b: int) -> int:
            m = (2 * abs(a) + b) // (2 * b)
            return m if a >= 0 else -m

        rows.append(
            (
                r["event_type"],
                n,
                sh(1000 * (n * sxy - sx * sy), den) / 1000.0,
                sh(1000 * (sy * sxx - sx * sxy), den) / 1000.0,
            )
        )
    return local_frame(
        spark,
        rows, "event_type string, n long, slope double, intercept double"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X720 — CVaR (expected shortfall) tail-exposure audit
# ---------------------------------------------------------------------------

_CVAR_ORACLE = f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents),
    k AS (
      SELECT source, any_value(n) AS n,
             CAST((any_value(n) + 9) // 10 AS BIGINT) AS k
      FROM ranked GROUP BY source)
    SELECT r.source, k.n AS n, k.k AS k_tail,
           CAST(min(r.n_chars) AS BIGINT) AS var90,
           {_half_up_sql('1000000 * sum(r.n_chars)', 'k.k')} / 1000000.0
             AS cvar90
    FROM ranked r JOIN k ON k.source = r.source
    WHERE r.rk <= k.k
    GROUP BY r.source, k.n, k.k ORDER BY r.source
    """


@query("q_cvar_loss", oracle=_CVAR_ORACLE)
def q_cvar_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X720 — CVaR@90 (expected shortfall) per source: the mean of
    the worst 10% — here the longest documents per source, the exact
    quantity that sizes sequence-length budgets and flags sources
    whose TAIL (not mean) will blow the packer/attention budget.
    CVaR is the coherent tail-risk measure (Rockafellar-Uryasev) and
    the object group-DRO (X701) optimizes; this is its audit face.
    Tail membership is deterministic: top ceil(n/10) rows in
    (n_chars DESC, doc_id) order; VaR90 = the k-th value; CVaR90 =
    the exact half-up mean of the tail.

    Scale: one window rank per source + one combinable aggregate —
    at cluster scale the rank prunes with a per-partition top-k
    (takeOrdered semantics) since k ≪ n."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    ).withColumn("k", ((F.col("n") + 9) / 10).cast("long"))
    return (
        ranked.filter(F.col("rk") <= F.col("k"))
        .groupBy("source", "n", "k")
        .agg(
            F.min("n_chars").cast("long").alias("var90"),
            (_half_up_col("1000000 * sum(n_chars)", "first(k)") / 1000000.0).alias(
                "cvar90"
            ),
        )
        .select(
            "source",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k_tail"),
            "var90",
            "cvar90",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X721 — Wald's SPRT first-crossing decision per arena
# ---------------------------------------------------------------------------

# H0: p = 0.4 vs H1: p = 0.6 at α = β = 0.05 — micro-quantized log
# ratios (exact integer walk): L1 = ln(1.5), L0 = ln(0.8), A = ln 19
_SPRT_L1, _SPRT_L0, _SPRT_A = 405465, -223144, 2944439
# success threshold is a FIXED design constant (value ≥ 40.0), not the
# pooled mean: a sequential test's success criterion must be known
# before the data arrives — and the streaming face could not replay a
# retroactively-shifting threshold incrementally
_SPRT_THRESH = 40.0

_SPRT_ORACLE = f"""
    WITH seq AS (
      SELECT e.event_type,
             CASE WHEN e.value >= {_SPRT_THRESH} THEN 1 ELSE 0 END AS x,
             row_number() OVER (PARTITION BY e.event_type
                                ORDER BY e.ts, e.event_id) AS t
      FROM events e),
    walk AS (
      SELECT event_type, t,
             sum(x) OVER (PARTITION BY event_type ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS a,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM seq),
    llr AS (
      SELECT event_type, t, a, n,
             a * {_SPRT_L1} + (t - a) * ({_SPRT_L0}) AS llr6
      FROM walk),
    crossing AS (
      SELECT event_type, min(t) AS t_cross
      FROM llr WHERE llr6 >= {_SPRT_A} OR llr6 <= -{_SPRT_A}
      GROUP BY event_type),
    final AS (
      SELECT l.event_type, l.n,
             coalesce(c.t_cross, l.n) AS n_steps,
             l.llr6, l.a
      FROM llr l
      LEFT JOIN crossing c ON c.event_type = l.event_type
      WHERE l.t = coalesce(c.t_cross, l.n))
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(n_steps AS BIGINT) AS n_steps,
           CAST(a AS BIGINT) AS successes,
           llr6 / 1000000.0 AS llr,
           CASE WHEN llr6 >= {_SPRT_A} THEN 'accept_h1'
                WHEN llr6 <= -{_SPRT_A} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM final ORDER BY event_type
    """


@query("q_sprt_decision", oracle=_SPRT_ORACLE)
def q_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X721 — Wald's sequential probability ratio test per arena:
    the OPTIMAL sequential test (fewest expected samples at fixed
    α/β — Wald-Wolfowitz), and the backbone of always-on experiment
    monitors that must decide "ship / don't ship / keep collecting"
    without fixing n in advance. Bernoulli successes are value ≥ a
    FIXED design threshold ({_SPRT_THRESH} — a sequential test's
    criterion must precede the data, and the streaming face could not
    replay a retroactively-shifting pooled mean); H0: p=0.4 vs
    H1: p=0.6, α=β=0.05. The LLR walk is EXACT: step +ln1.5 or +ln0.8
    in micro-integer units (embedded literal constants), so the first
    boundary crossing is an integer comparison — order-dependent in
    the (ts, event_id) stream order, the X685/X686 family.

    Scale: one window cumsum per arena + a min-over-crossings —
    corpus-linear, no state beyond two counters per arena (which is
    why it also has a streaming face, run_streaming_sprt).

    The streaming twin (streaming/pipeline.sprt_state_fold under
    versioned_fold_batch_fn) folds only NEW events per micro-batch
    and freezes the decision at the crossing — incremental ≡ batch
    pinned by pytest."""
    e = load(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        (F.col("value") >= F.lit(_SPRT_THRESH)).cast("int").alias("x"),
        "ts",
        "event_id",
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    walk = seq.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("a"),
        F.count("*").over(W.partitionBy("event_type")).alias("n"),
    )
    llr = walk.withColumn(
        "llr6",
        F.col("a") * _SPRT_L1 + (F.col("t") - F.col("a")) * _SPRT_L0,
    )
    crossing = (
        llr.filter(
            (F.col("llr6") >= _SPRT_A) | (F.col("llr6") <= -_SPRT_A)
        )
        .groupBy("event_type")
        .agg(F.min("t").alias("t_cross"))
    )
    final = llr.join(F.broadcast(crossing), "event_type", "left").filter(
        F.col("t") == F.coalesce(F.col("t_cross"), F.col("n"))
    )
    return final.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.coalesce(F.col("t_cross"), F.col("n"))
        .cast("long")
        .alias("n_steps"),
        F.col("a").cast("long").alias("successes"),
        (F.col("llr6") / 1000000.0).alias("llr"),
        F.when(F.col("llr6") >= _SPRT_A, "accept_h1")
        .when(F.col("llr6") <= -_SPRT_A, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X722 — MAUVE divergence frontier over quantized histograms
# ---------------------------------------------------------------------------

_MV_DIMS = 6  # sign-pattern bits → 64 buckets
_MV_C = 5  # MAUVE's frontier scaling constant


_MV_ORACLE = f"""
    WITH b AS (
      SELECT CASE WHEN label = 0 THEN 'p' ELSE 'q' END AS side,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) >= 0 THEN 32 ELSE 0 END
            + CASE WHEN CAST(embedding[2] AS DOUBLE) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN CAST(embedding[3] AS DOUBLE) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN CAST(embedding[4] AS DOUBLE) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN CAST(embedding[5] AS DOUBLE) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN CAST(embedding[6] AS DOUBLE) >= 0 THEN 1 ELSE 0 END)
               AS bucket
      FROM embeddings WHERE len(embedding) >= {_MV_DIMS}),
    hist AS (
      SELECT bucket,
             CAST(sum(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS BIGINT)
               AS pc,
             CAST(sum(CASE WHEN side = 'q' THEN 1 ELSE 0 END) AS BIGINT)
               AS qc
      FROM b GROUP BY bucket),
    nn AS (SELECT sum(pc) AS np, sum(qc) AS nq FROM hist),
    lam AS (SELECT unnest(range(1, 8)) AS lk),
    terms AS (
      SELECT l.lk,
             CASE WHEN h.pc > 0 THEN
               CAST(round(1000000.0 * (h.pc * 1.0 / nn.np) * ln(
                 (h.pc * 1.0 / nn.np)
                 / ((l.lk * (h.pc * 1.0 / nn.np)
                     + (8 - l.lk) * (h.qc * 1.0 / nn.nq)) / 8.0)))
                 AS BIGINT) ELSE 0 END AS tp6,
             CASE WHEN h.qc > 0 THEN
               CAST(round(1000000.0 * (h.qc * 1.0 / nn.nq) * ln(
                 (h.qc * 1.0 / nn.nq)
                 / ((l.lk * (h.pc * 1.0 / nn.np)
                     + (8 - l.lk) * (h.qc * 1.0 / nn.nq)) / 8.0)))
                 AS BIGINT) ELSE 0 END AS tq6
      FROM lam l CROSS JOIN hist h CROSS JOIN nn),
    kl AS (
      SELECT lk, sum(tp6) AS klp6, sum(tq6) AS klq6
      FROM terms GROUP BY lk),
    fr AS (
      SELECT lk, klp6 / 1000000.0 AS kl_p, klq6 / 1000000.0 AS klq,
             round(exp(-{_MV_C} * klq6 / 1000000.0), 6) AS fx,
             round(exp(-{_MV_C} * klp6 / 1000000.0), 6) AS fy
      FROM kl),
    lagged AS (
      SELECT lk, kl_p, klq, fx, fy,
             lag(fx) OVER (ORDER BY lk) AS pfx,
             lag(fy) OVER (ORDER BY lk) AS pfy
      FROM fr)
    SELECT CAST(lk AS BIGINT) AS lambda8, kl_p, klq AS kl_q, fx, fy,
           round(sum((pfx - fx) * (fy + pfy) / 2)
                 OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING), 6) AS frontier_auc
    FROM lagged ORDER BY lambda8
    """


@query("q_mauve_quantized", oracle=_MV_ORACLE)
def q_mauve_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X722 — MAUVE (Pillutla et al. 2021), the open-ended-generation
    metric: human text P (label 0) and model text Q (rest) are
    quantized into histogram buckets (here the 64 sign patterns of
    the first {_MV_DIMS} embedding dims — MAUVE's k-means step
    replaced by a deterministic product quantizer), then compared by
    the DIVERGENCE FRONTIER: for mixtures R_λ = λP + (1−λ)Q over the
    interior grid λ = 1/8..7/8, the curve (e^(−c·KL(Q‖R)),
    e^(−c·KL(P‖R))) traces quality vs diversity, and its area is the
    score (c = {_MV_C}, the paper's scaling). Mixtures keep every KL
    finite where KL(P‖Q) alone would be ∞ on disjoint buckets — the
    metric's entire point.

    Determinism: histogram counts are integers; each (λ, bucket) KL
    term is libm-on-identical-doubles quantized micro BEFORE the
    bucket sum; frontier points and the trapezoid area are rounded 6.

    Scale: histogram = one combinable groupBy into ≤64 cells; the
    frontier is a 7-row window — constant work after the scan."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _MV_DIMS
    )
    bucket = sum(
        F.when(
            F.element_at("embedding", k + 1).cast("double") >= 0,
            F.lit(1 << (_MV_DIMS - 1 - k)),
        ).otherwise(F.lit(0))
        for k in range(_MV_DIMS)
    )
    b = emb.select(
        F.when(F.col("label") == 0, "p").otherwise("q").alias("side"),
        bucket.alias("bucket"),
    )
    hist = b.groupBy("bucket").agg(
        F.sum(F.when(F.col("side") == "p", 1).otherwise(0))
        .cast("long")
        .alias("pc"),
        F.sum(F.when(F.col("side") == "q", 1).otherwise(0))
        .cast("long")
        .alias("qc"),
    )
    nn = hist.agg(
        F.sum("pc").alias("np"), F.sum("qc").alias("nq")
    )
    lam = emb.sparkSession.range(1, 8).select(F.col("id").alias("lk"))
    hp = F.col("pc") * 1.0 / F.col("np")
    hq = F.col("qc") * 1.0 / F.col("nq")
    rmix = (F.col("lk") * hp + (8 - F.col("lk")) * hq) / 8.0
    terms = (
        lam.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(nn))
        .select(
            "lk",
            F.when(
                F.col("pc") > 0,
                F.round(1000000.0 * hp * F.log(hp / rmix)).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("tp6"),
            F.when(
                F.col("qc") > 0,
                F.round(1000000.0 * hq * F.log(hq / rmix)).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("tq6"),
        )
    )
    kl = terms.groupBy("lk").agg(
        F.sum("tp6").alias("klp6"), F.sum("tq6").alias("klq6")
    )
    fr = kl.select(
        "lk",
        (F.col("klp6") / 1000000.0).alias("kl_p"),
        (F.col("klq6") / 1000000.0).alias("kl_q"),
        F.round(F.exp(-_MV_C * F.col("klq6") / 1000000.0), 6).alias("fx"),
        F.round(F.exp(-_MV_C * F.col("klp6") / 1000000.0), 6).alias("fy"),
    )
    wlag = W.orderBy("lk")
    wall = W.orderBy("lk").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return fr.select(
        F.col("lk").cast("long").alias("lambda8"),
        "kl_p",
        "kl_q",
        "fx",
        "fy",
        F.round(
            F.sum(
                (F.lag("fx").over(wlag) - F.col("fx"))
                * (F.col("fy") + F.lag("fy").over(wlag))
                / 2
            ).over(wall),
            6,
        ).alias("frontier_auc"),
    ).orderBy("lambda8")


# ---------------------------------------------------------------------------
# X723 — count-min sketch with measured overestimate
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 64  # cells per row
_CMS_TRACK = 20  # tracked heavy tokens


def _cms_h_sql(j: int) -> str:
    inner = "concat('" + str(j) + "|', tok)"
    return f"{token_hash_sql(inner)} % {_CMS_W}"


_CMS_ORACLE = f"""
    WITH toks AS (
      SELECT unnest({_text.tokens_sql('text')}) AS tok FROM documents),
    cnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    cells AS (
      SELECT j.j,
             CASE j.j
               WHEN 0 THEN {_cms_h_sql(0)}
               WHEN 1 THEN {_cms_h_sql(1)}
               WHEN 2 THEN {_cms_h_sql(2)}
               ELSE {_cms_h_sql(3)} END AS cell,
             sum(c) AS cc
      FROM cnt CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) j
      GROUP BY 1, 2),
    track AS (
      SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT {_CMS_TRACK}),
    est AS (
      SELECT t.tok, t.c, min(ce.cc) AS est
      FROM track t
      CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) j
      JOIN cells ce ON ce.j = j.j AND ce.cell =
        CASE j.j
          WHEN 0 THEN {_cms_h_sql(0).replace('tok', 't.tok')}
          WHEN 1 THEN {_cms_h_sql(1).replace('tok', 't.tok')}
          WHEN 2 THEN {_cms_h_sql(2).replace('tok', 't.tok')}
          ELSE {_cms_h_sql(3).replace('tok', 't.tok')} END
      GROUP BY t.tok, t.c)
    SELECT tok, c AS true_count, CAST(est AS BIGINT) AS cms_est,
           CAST(est - c AS BIGINT) AS overestimate
    FROM est ORDER BY true_count DESC, tok
    """


@query("q_cms_sketch", oracle=_CMS_ORACLE)
def q_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X723 — count-min sketch (Cormode-Muthukrishnan 2005): the
    fixed-memory frequency sketch behind every streaming heavy-hitter
    / rate-limiter stack — d = {_CMS_D} portable hash rows × w =
    {_CMS_W} cells, est(x) = min_j cells[j][h_j(x)], which can only
    OVERestimate (one-sided error ≤ εN w.h.p.). Built here as a real
    Spark aggregate (cells are a combinable groupBy — the sketch IS
    map-side-mergeable, its defining property) and then audited: for
    the top-{_CMS_TRACK} tokens, the exact count, the sketch
    estimate, and the realized overestimate.

    Determinism: hashes are the portable md5 token_hash; everything
    is integer counts.

    Scale: sketch state is d·w cells regardless of corpus; the audit
    join touches only the tracked keys."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(_text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    jdf = spark.range(_CMS_D).select(F.col("id").cast("int").alias("j"))
    hashed = cnt.crossJoin(F.broadcast(jdf)).select(
        "tok",
        "c",
        "j",
        (
            token_hash(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("tok")))
            % _CMS_W
        ).alias("cell"),
    )
    cells = hashed.groupBy("j", "cell").agg(F.sum("c").alias("cc"))
    track = cnt.orderBy(F.desc("c"), "tok").limit(_CMS_TRACK)
    est = (
        track.crossJoin(F.broadcast(jdf))
        .select(
            "tok",
            "c",
            "j",
            (
                token_hash(
                    F.concat(
                        F.col("j").cast("string"), F.lit("|"), F.col("tok")
                    )
                )
                % _CMS_W
            ).alias("cell"),
        )
        .join(cells, ["j", "cell"])
        .groupBy("tok", "c")
        .agg(F.min("cc").alias("est"))
    )
    return est.select(
        "tok",
        F.col("c").alias("true_count"),
        F.col("est").cast("long").alias("cms_est"),
        (F.col("est") - F.col("c")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("true_count"), "tok")


# ---------------------------------------------------------------------------
# X724 — Bloom filter with measured vs theoretical FPR
# ---------------------------------------------------------------------------

_BF_M = 1024  # bits
_BF_K = 3  # hash functions


def _bf_pos_sql(j: int, expr: str) -> str:
    inner = "concat('" + str(j) + "#', " + expr + ")"
    return f"{token_hash_sql(inner)} % {_BF_M}"


_BF_ORACLE = f"""
    WITH langs AS (
      SELECT lang, row_number() OVER (ORDER BY lang) AS lr
      FROM (SELECT DISTINCT lang FROM documents)),
    toks AS (
      SELECT d.lang, unnest({_text.tokens_sql('text')}) AS tok
      FROM documents d),
    vocab AS (
      SELECT lang, tok FROM toks GROUP BY lang, tok),
    member AS (
      SELECT DISTINCT v.tok FROM vocab v JOIN langs l ON l.lang = v.lang
      WHERE l.lr = 1),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT {_bf_pos_sql(0, 'tok')} AS pos FROM member
        UNION ALL SELECT {_bf_pos_sql(1, 'tok')} FROM member
        UNION ALL SELECT {_bf_pos_sql(2, 'tok')} FROM member)),
    bigs AS (
      SELECT t.lang,
             concat(t.t[CAST(i + 1 AS INT)], ' ',
                    t.t[CAST(i + 2 AS INT)]) AS tok
      FROM (SELECT lang, {_text.tokens_sql('text')} AS t
            FROM documents) t, unnest(range(len(t.t) - 1)) AS r(i)),
    probes AS (
      SELECT b.lang, b.tok,
             {_bf_pos_sql(0, 'b.tok')} AS p0,
             {_bf_pos_sql(1, 'b.tok')} AS p1,
             {_bf_pos_sql(2, 'b.tok')} AS p2
      FROM (SELECT lang, tok FROM bigs GROUP BY lang, tok) b
      JOIN langs l ON l.lang = b.lang
      WHERE l.lr > 1 AND b.tok NOT IN (SELECT tok FROM member)),
    hits AS (
      SELECT p.lang,
             CASE WHEN EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p0)
                   AND EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p1)
                   AND EXISTS (SELECT 1 FROM bits b WHERE b.pos = p.p2)
                  THEN 1 ELSE 0 END AS fp
      FROM probes p),
    nbits AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bits),
    nmem AS (SELECT CAST(count(*) AS BIGINT) AS nm FROM member)
    SELECT h.lang, CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(h.fp) AS BIGINT) AS n_false_pos,
           {_half_up_sql('1000000 * sum(h.fp)', 'count(*)')} / 1000000.0
             AS fpr,
           round(pow(any_value(nbits.nb) * 1.0 / {_BF_M}, {_BF_K}), 6)
             AS fill_rate_fpr,
           round(pow(1.0 - exp(-{_BF_K}.0 * any_value(nmem.nm) / {_BF_M}),
                     {_BF_K}), 6) AS theoretical_fpr
    FROM hits h CROSS JOIN nbits CROSS JOIN nmem
    GROUP BY h.lang ORDER BY h.lang
    """


@query("q_bloom_fpr", oracle=_BF_ORACLE)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X724 — Bloom filter false-positive audit: membership sketch
    (m = {_BF_M} bits, k = {_BF_K} portable hashes) built from the
    first language's vocabulary, probed with every OTHER language's
    non-member tokens, reporting MEASURED FPR vs the exact
    fill-rate-based prediction (set-bit fraction)^k and the classical
    (1 − e^{{−kn/m}})^k approximation — the difference between the two
    predictions is itself the lesson (the approximation ignores hash
    collisions among members). Bloom filters gate the dedup/
    decontamination fast paths (X155, X292); this is their error
    meter.

    Determinism: bit positions are portable md5 hashes; counts are
    integers; the two predictions are libm on identical doubles,
    rounded 6.

    Scale: the bit set is ≤ m rows (broadcast); probes are one
    semi-join-shaped lookup per hash — corpus-linear."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(_text.tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.lit(1).alias("one"))
        .drop("one")
    )
    first_lang = (
        vocab.select("lang").distinct().orderBy("lang").limit(1)
    )
    member = (
        vocab.join(F.broadcast(first_lang), "lang")
        .select("tok")
        .distinct()
    )

    def pos(j: int, c: F.Column) -> F.Column:
        return token_hash(F.concat(F.lit(f"{j}#"), c)) % _BF_M

    bits = (
        member.select(pos(0, F.col("tok")).alias("pos"))
        .unionAll(member.select(pos(1, F.col("tok")).alias("pos")))
        .unionAll(member.select(pos(2, F.col("tok")).alias("pos")))
        .distinct()
    )
    # probe keys are space-joined BIGRAMS from the other languages —
    # provably absent from the unigram member set (member tokens never
    # contain a space), yet drawn from the real corpus; the anti-join
    # keeps the exact ground-truth non-membership guard anyway
    bigs = (
        docs.select("lang", _text.tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 2)  # sequence(0,-1) would descend
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), "
                    "i -> concat(t[i], ' ', t[i + 1]))"
                )
            ).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.lit(1).alias("one"))
        .drop("one")
    )
    probes = (
        bigs.join(F.broadcast(first_lang), "lang", "left_anti")
        .join(member, "tok", "left_anti")
        .select(
            "lang",
            "tok",
            pos(0, F.col("tok")).alias("p0"),
            pos(1, F.col("tok")).alias("p1"),
            pos(2, F.col("tok")).alias("p2"),
        )
    )
    bset = F.broadcast(bits)
    hit = (
        probes.join(
            bset.withColumnRenamed("pos", "p0").withColumn("h0", F.lit(1)),
            "p0",
            "left",
        )
        .join(
            bset.withColumnRenamed("pos", "p1").withColumn("h1", F.lit(1)),
            "p1",
            "left",
        )
        .join(
            bset.withColumnRenamed("pos", "p2").withColumn("h2", F.lit(1)),
            "p2",
            "left",
        )
        .select(
            "lang",
            F.when(
                F.col("h0").isNotNull()
                & F.col("h1").isNotNull()
                & F.col("h2").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("fp"),
        )
    )
    nb = bits.count()
    nm = member.count()
    return (
        hit.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_probes"),
            F.sum("fp").cast("long").alias("n_false_pos"),
            (_half_up_col("1000000 * sum(fp)", "count(*)") / 1000000.0).alias(
                "fpr"
            ),
        )
        .withColumn(
            "fill_rate_fpr",
            F.round(F.pow(F.lit(nb * 1.0 / _BF_M), F.lit(_BF_K)), 6),
        )
        .withColumn(
            "theoretical_fpr",
            F.round(
                F.pow(
                    1.0 - F.exp(F.lit(-float(_BF_K) * nm / _BF_M)),
                    F.lit(_BF_K),
                ),
                6,
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X725 — UCB1 bandit allocation scores
# ---------------------------------------------------------------------------

_UCB_ORACLE = f"""
    WITH arm AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS sc
      FROM events GROUP BY event_type),
    tot AS (SELECT sum(n) AS nn FROM arm),
    scored AS (
      SELECT a.event_type, a.n,
             {_half_up_sql('10000 * a.sc', 'a.n')} AS mean6,
             CAST(round(1000000.0 * sqrt(2.0 * ln(t.nn) / a.n))
                  AS BIGINT) AS bonus6
      FROM arm a CROSS JOIN tot t)
    SELECT event_type, n,
           mean6 / 1000000.0 AS mean_reward,
           bonus6 / 1000000.0 AS bonus,
           (mean6 + bonus6) / 1000000.0 AS ucb,
           CAST(row_number() OVER (ORDER BY mean6 + bonus6 DESC, event_type)
                AS BIGINT) AS pull_rank
    FROM scored ORDER BY event_type
    """


@query("q_ucb_allocation", oracle=_UCB_ORACLE)
def q_ucb_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X725 — UCB1 (Auer et al. 2002) arm scores: mean reward +
    √(2 ln N / n) optimism bonus per arm, the allocation rule for
    "which variant/data-source/router-arm gets the next pull" with
    logarithmic regret. Complements X672 (cascade routing) and X674
    (successive halving): halving kills arms in rounds, UCB allocates
    continuously. pull_rank = 1 is the next arm an allocator samples.

    Determinism: means are half-up micro-integers from exact cent
    sums; the bonus is one libm sqrt/ln on identical integers,
    quantized micro; the rank orders by the integer sum with a
    deterministic tiebreak.

    Scale: one combinable aggregate to arms-sized state."""
    e = load(spark, sf_dir, "events")
    arm = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
    )
    nn = arm.agg(F.sum("n")).collect()[0][0]
    scored = arm.select(
        "event_type",
        "n",
        _half_up_col("10000 * sc", "n").alias("mean6"),
        F.round(
            1000000.0 * F.sqrt(2.0 * F.log(F.lit(float(nn))) / F.col("n"))
        )
        .cast("long")
        .alias("bonus6"),
    )
    wr = W.orderBy(F.desc(F.col("mean6") + F.col("bonus6")), "event_type")
    return scored.select(
        "event_type",
        "n",
        (F.col("mean6") / 1000000.0).alias("mean_reward"),
        (F.col("bonus6") / 1000000.0).alias("bonus"),
        ((F.col("mean6") + F.col("bonus6")) / 1000000.0).alias("ucb"),
        F.row_number().over(wr).cast("long").alias("pull_rank"),
    ).orderBy("event_type")
