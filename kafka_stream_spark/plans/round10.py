"""Round-10 batch A (X711+): off-policy RL corrections, preference-
optimization audits, sampler analytics, and distribution-distance
diagnostics for training-data pipelines.

Reference scope note: §2.13 mandate extensions, reference-free.

- X711 q_vtrace: V-trace off-policy value targets (IMPALA, Espeholt
  et al. 2018) — the truncated-importance-sampling cousin of GAE
  (X692), with per-step ρ/c clipping and the same exact-integer
  backward-fold discipline.
- X712 q_dpo_margin: DPO implicit-reward margin audit (Rafailov et
  al. 2023) over (chosen, rejected) pairs.
- X713 q_kl_shaping: RLHF KL-penalty telemetry — k1 vs k3 KL
  estimators (Schulman) and the shaped reward per policy group.
- X714 q_nucleus_mass: top-p (nucleus) sampler analytics — tokens
  needed to cover 90% unigram mass per language.
- X715 q_wasserstein_1d: exact 1-D earth-mover distance between each
  event type's value distribution and the pooled one.
- X716 q_mmd_rff: linear-time kernel MMD via hash-seeded spectral
  (random Fourier) features — per-label two-sample drift.
- X717 q_cka_alignment: linear-kernel CKA between two embedding
  views from exact integer cross-moments.

Same determinism contract as round9b/round9c: integer half-up
quantization before any cross-engine sum or ranking; the only float
ops crossing engines are libm calls (cos/exp/ln/sqrt) on bit-identical
double inputs, quantized per-row before aggregation.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import token_hash, token_hash_sql
from ..functions import text as _text
from ..session import default_parallelism
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql

# ---------------------------------------------------------------------------
# X711 — V-trace off-policy value targets (IMPALA)
# ---------------------------------------------------------------------------

_VT_G_NUM, _VT_G_DEN = 99, 100  # discount γ
_VT_Q = 10000  # 1e-4 cents

# truncated IS ratio numerators over denominator 2: ρ = c = min(1,
# π/μ) with the behaviour/target ratio derived deterministically from
# the event id — ρnum ∈ {1, 2} ⇒ ρ ∈ {0.5, 1.0} (ρ̄ = c̄ = 1, the
# IMPALA defaults)
_VT_RHO = "least(1 + event_id % 3, 2)"


def _sh_sql(num: str, den: str) -> str:
    """Signed half-up division in DuckDB (den > 0)."""
    return (
        f"CASE WHEN ({num}) >= 0 THEN (2 * ({num}) + ({den})) // (2 * ({den}))"
        f" ELSE -((2 * (-({num})) + ({den})) // (2 * ({den}))) END"
    )


def _sh_col(num: str, den: str) -> F.Column:
    """Spark twin of :func:`_sh_sql` (`div` = integral division)."""
    return F.expr(
        f"CASE WHEN ({num}) >= 0"
        f" THEN (2 * ({num}) + ({den})) div (2 * ({den}))"
        f" ELSE -((2 * (-({num})) + ({den})) div (2 * ({den}))) END"
    )


_VT_ORACLE = f"""
    WITH RECURSIVE steps AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST({_VT_RHO} AS BIGINT) AS rnum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t,
             count(*) OVER (PARTITION BY user_id) AS tt
      FROM events),
    vbar AS (
      SELECT user_id,
             {_half_up_sql(f'{_VT_Q} * sum(cents)', 'count(*)')} AS v4
      FROM steps GROUP BY user_id),
    delta AS (
      SELECT s.user_id, s.event_id, s.cents, s.rnum, s.t, s.tt,
             s.tt - s.t + 1 AS k,
             {_sh_sql(
                 f's.rnum * (s.cents * {_VT_Q}'
                 f' + CASE WHEN s.t < s.tt'
                 f'        THEN {_half_up_sql(f"{_VT_G_NUM} * v.v4", str(_VT_G_DEN))} - v.v4'
                 f'        ELSE -v.v4 END)',
                 '2')} AS d4,
             v.v4 AS v4
      FROM steps s JOIN vbar v ON v.user_id = s.user_id),
    fold AS (
      SELECT user_id, event_id, cents, rnum, t, k, v4, d4 AS x4
      FROM delta WHERE k = 1
      UNION ALL
      SELECT d.user_id, d.event_id, d.cents, d.rnum, d.t, d.k, d.v4,
             d.d4 + {_sh_sql(
                 f'{_VT_G_NUM} * d.rnum * f.x4',
                 str(_VT_G_DEN * 2))} AS x4
      FROM delta d JOIN fold f
        ON f.user_id = d.user_id AND d.k = f.k + 1)
    SELECT user_id, event_id, CAST(t AS BIGINT) AS t,
           round(cents / 100.0, 2) AS reward,
           rnum / 2.0 AS rho,
           (v4 + x4) / {_VT_Q * 100}.0 AS vtrace
    FROM fold ORDER BY user_id, t
    """


@query("q_vtrace", oracle=_VT_ORACLE)
def q_vtrace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X711 — V-trace off-policy value targets (IMPALA, Espeholt et
    al. 2018): when trajectories were collected by a STALE behaviour
    policy μ but the learner is π (every large-scale actor-learner
    RLHF/RL system), plain TD targets are biased; V-trace corrects
    each TD residual with a truncated importance ratio ρ_t = min(ρ̄,
    π/μ) and decays the backward accumulation with c_t = min(c̄, π/μ):
    v_s − V(s) = δ_s + γ·c_s·(v_{s+1} − V(s_{s+1})). ρ̄ = c̄ = 1 (the
    paper's fixed point = V^π). Episodes are user_id trajectories in
    (ts, event_id) order; the baseline V is the episode mean (no
    bootstrap past the terminal step), as in X692; the ratio π/μ is a
    deterministic per-step function of event_id (∈ {0.5, 1.0}).

    Same exactness contract as GAE: 1e-4-cent integer state, signed
    half-up for every rational product (ρ, then γ·c), ONE
    applyInPandas over episodes; the oracle replays the identical
    recurrence as a backward recursive CTE keyed on the reverse step
    index. Cites X692 (round9b.py:1595) for the fold pattern.

    Scale: episodes independent (shuffle key = user_id); per-episode
    state is O(1). |x4| ≤ max|δ4|/(1 − γc̄) keeps the fold int64-safe
    per episode regardless of corpus size."""
    # same episode-key fan-out as q_gae_advantage: one exchange feeds
    # both windows and the pandas fold at full width (guide §2.6, §4)
    e = load(spark, sf_dir, "events").repartition(
        default_parallelism(), "user_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr(_VT_RHO).cast("long").alias("rnum"),
        F.row_number().over(w).alias("t"),
        F.count("*").over(W.partitionBy("user_id")).alias("tt"),
    )

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t").reset_index(drop=True)
        cents = [int(c) for c in pdf["cents"]]
        rnum = [int(r) for r in pdf["rnum"]]
        n = len(cents)

        def hu(a: int, b: int) -> int:
            return (2 * a + b) // (2 * b)

        def sh(a: int, b: int) -> int:
            m = (2 * abs(a) + b) // (2 * b)
            return m if a >= 0 else -m

        v4 = hu(_VT_Q * sum(cents), n)
        gv = hu(_VT_G_NUM * v4, _VT_G_DEN)
        d4 = [
            sh(
                rnum[i]
                * (cents[i] * _VT_Q + ((gv - v4) if i < n - 1 else -v4)),
                2,
            )
            for i in range(n)
        ]
        x4 = [0] * n
        x4[n - 1] = d4[n - 1]
        for i in range(n - 2, -1, -1):
            x4[i] = d4[i] + sh(
                _VT_G_NUM * rnum[i] * x4[i + 1], _VT_G_DEN * 2
            )
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].values,
                "event_id": pdf["event_id"].values,
                "t": pdf["t"].values,
                "cents": cents,
                "rnum": rnum,
                "x4": x4,
                "v4": [v4] * n,
            }
        )

    out = steps.groupBy("user_id").applyInPandas(
        fold,
        schema=(
            "user_id long, event_id long, t long, cents long, "
            "rnum long, x4 long, v4 long"
        ),
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("t").cast("long").alias("t"),
        F.round(F.col("cents") / 100.0, 2).alias("reward"),
        (F.col("rnum") / F.lit(2.0)).alias("rho"),
        ((F.col("v4") + F.col("x4")) / F.lit(float(_VT_Q * 100))).alias(
            "vtrace"
        ),
    ).orderBy("user_id", "t")


# ---------------------------------------------------------------------------
# X712 — DPO implicit-reward margin audit
# ---------------------------------------------------------------------------

# reference-model log-prob stand-in: a deterministic centi-logit from
# the response payload, range [-200, 200]
_DPO_REF = "CAST({h} % 401 AS BIGINT) - 200"


_DPO_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, event_type, value,
             CAST(round(value * 100) AS BIGINT) AS cents,
             {_DPO_REF.format(h=token_hash_sql('props'))} AS refc,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN a.value >= b.value THEN a.cents ELSE b.cents END
               AS lp_c,
             CASE WHEN a.value >= b.value THEN a.refc ELSE b.refc END
               AS ref_c,
             CASE WHEN a.value >= b.value THEN b.cents ELSE a.cents END
               AS lp_r,
             CASE WHEN a.value >= b.value THEN b.refc ELSE a.refc END
               AS ref_r
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE a.rn % 2 = 1 AND a.value <> b.value),
    scored AS (
      SELECT event_type,
             (lp_c - ref_c) - (lp_r - ref_r) AS mc,
             CAST(round(1000000.0
                  / (1.0 + exp(-(((lp_c - ref_c) - (lp_r - ref_r))
                                 / 1000.0)))) AS BIGINT) AS sig6,
             CAST(round(-1000000.0
                  * ln(1.0 / (1.0 + exp(-(((lp_c - ref_c) - (lp_r - ref_r))
                                          / 1000.0))))) AS BIGINT) AS loss6
      FROM pairs)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           {_half_up_sql(
               '1000000 * sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END)',
               'count(*)')} / 1000000.0 AS win_rate,
           {_sh_sql('10 * sum(mc)', 'count(*)')} / 1000.0 AS mean_margin,
           {_half_up_sql('sum(sig6)', 'count(*)')} / 1000000.0
             AS mean_sigma,
           {_half_up_sql('sum(loss6)', 'count(*)')} / 1000000.0
             AS dpo_loss
    FROM scored GROUP BY event_type ORDER BY event_type
    """


@query("q_dpo_margin", oracle=_DPO_ORACLE)
def q_dpo_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X712 — DPO implicit-reward margin audit (Rafailov et al.
    2023): DPO's objective is −log σ(β[(logπ−logref)(chosen) −
    (logπ−logref)(rejected)]) — the bracketed margin IS the implicit
    reward gap, and its distribution (win rate under the implicit
    reward, mean margin, mean σ, loss) is the standard health
    dashboard for a preference-optimization run (margins collapsing
    to 0 = no learning signal; exploding = reward hacking the ref).
    Pairs are consecutive events per prompt (user_id), chosen = the
    higher engagement value, ties dropped (X703's pairing); policy
    log-probs are the centi-quantized values, reference log-probs a
    deterministic payload hash in [-2, 2]; β = 0.1.

    Determinism: the margin is an exact centi-integer; σ and −lnσ are
    libm calls on identical double inputs, quantized per-pair to
    micro units BEFORE the group sum (the X708 discipline).

    Scale: one window + one combinable aggregate per policy group."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (token_hash(F.col("props")) % 401 - 200).cast("long").alias("refc"),
        F.row_number().over(w).alias("rn"),
        F.lead("value").over(w).alias("vb"),
        F.lead(F.round(F.col("value") * 100).cast("long")).over(w).alias(
            "cb"
        ),
        F.lead(
            (token_hash(F.col("props")) % 401 - 200).cast("long")
        ).over(w).alias("rb"),
    )
    pairs = seq.filter(
        (F.col("rn") % 2 == 1)
        & F.col("vb").isNotNull()
        & (F.col("value") != F.col("vb"))
    ).select(
        "event_type",
        F.when(F.col("value") >= F.col("vb"), F.col("cents"))
        .otherwise(F.col("cb"))
        .alias("lp_c"),
        F.when(F.col("value") >= F.col("vb"), F.col("refc"))
        .otherwise(F.col("rb"))
        .alias("ref_c"),
        F.when(F.col("value") >= F.col("vb"), F.col("cb"))
        .otherwise(F.col("cents"))
        .alias("lp_r"),
        F.when(F.col("value") >= F.col("vb"), F.col("rb"))
        .otherwise(F.col("refc"))
        .alias("ref_r"),
    )
    mc = (F.col("lp_c") - F.col("ref_c")) - (F.col("lp_r") - F.col("ref_r"))
    sigma = 1.0 / (1.0 + F.exp(-(mc.cast("double") / 1000.0)))
    scored = pairs.select(
        "event_type",
        mc.alias("mc"),
        F.round(1000000.0 * sigma).cast("long").alias("sig6"),
        F.round(-1000000.0 * F.log(sigma)).cast("long").alias("loss6"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (
                _half_up_col(
                    "1000000 * sum(CASE WHEN mc > 0 THEN 1 ELSE 0 END)",
                    "count(*)",
                )
                / 1000000.0
            ).alias("win_rate"),
            (
                _sh_col("10 * sum(mc)", "count(*)") / 1000.0
            ).alias("mean_margin"),
            (_half_up_col("sum(sig6)", "count(*)") / 1000000.0).alias(
                "mean_sigma"
            ),
            (_half_up_col("sum(loss6)", "count(*)") / 1000000.0).alias(
                "dpo_loss"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# X713 — RLHF KL-penalty telemetry (k1 vs k3 estimators)
# ---------------------------------------------------------------------------

_KL_ORACLE = f"""
    WITH d AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             greatest(least(CAST(round(value * 100) AS BIGINT)
                            - ({_DPO_REF.format(h=token_hash_sql('props'))}),
                            200), -200) AS dcc
      FROM events),
    per AS (
      SELECT event_type, cents, dcc,
             CAST(round(1000000.0 * (exp(-(dcc / 100.0)) - 1.0
                                     + dcc / 100.0)) AS BIGINT) AS k36
      FROM d),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             {_half_up_sql('10000 * sum(cents)', 'count(*)')} AS mr6,
             {_sh_sql('10000 * sum(dcc)', 'count(*)')} AS k16,
             {_half_up_sql('sum(k36)', 'count(*)')} AS k36
      FROM per GROUP BY event_type)
    SELECT event_type, n,
           mr6 / 1000000.0 AS mean_reward,
           k16 / 1000000.0 AS kl_k1,
           k36 / 1000000.0 AS kl_k3,
           (mr6 - {_sh_sql('k36', '10')}) / 1000000.0 AS shaped_reward
    FROM agg ORDER BY event_type
    """


@query("q_kl_shaping", oracle=_KL_ORACLE)
def q_kl_shaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X713 — RLHF KL-penalty telemetry: every RLHF trainer logs the
    policy/reference KL to price the reward shaping r − β·KL, and the
    ESTIMATOR choice matters (Schulman's k1 = E[logr] is unbiased but
    signed/high-variance; k3 = E[e^{-logr} − 1 + logr] is
    non-negative and low-variance — the PPO-default). Both are
    computed per policy group (event_type) from the per-sample
    log-ratio (centi-quantized, clamped to ±2 nats), plus the shaped
    reward mean(r) − β·k3 with β = 0.1.

    Determinism: log-ratios are exact centi-integers; k3's exp is a
    libm call on an identical double, quantized per-row to micro
    before the sum; k1 is an exact integer mean (signed half-up).

    Scale: one projection + one combinable aggregate."""
    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    refc = (token_hash(F.col("props")) % 401 - 200).cast("long")
    dcc = F.greatest(F.least(cents - refc, F.lit(200)), F.lit(-200))
    per = e.select(
        "event_type",
        cents.alias("cents"),
        dcc.alias("dcc"),
        F.round(
            1000000.0
            * (
                F.exp(-(dcc.cast("double") / 100.0))
                - 1.0
                + dcc.cast("double") / 100.0
            )
        )
        .cast("long")
        .alias("k36"),
    )
    agg = per.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        _half_up_col("10000 * sum(cents)", "count(*)").alias("mr6"),
        _sh_col("10000 * sum(dcc)", "count(*)").alias("k16"),
        _half_up_col("sum(k36)", "count(*)").alias("k36"),
    )
    return agg.select(
        "event_type",
        "n",
        (F.col("mr6") / 1000000.0).alias("mean_reward"),
        (F.col("k16") / 1000000.0).alias("kl_k1"),
        (F.col("k36") / 1000000.0).alias("kl_k3"),
        ((F.col("mr6") - _sh_col("k36", "10")) / 1000000.0).alias(
            "shaped_reward"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X714 — top-p (nucleus) sampler analytics
# ---------------------------------------------------------------------------

_NUC_ORACLE = f"""
    WITH toks AS (
      SELECT lang, unnest({_text.tokens_sql('text')}) AS tok
      FROM documents),
    cnt AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, tok),
    ranked AS (
      SELECT lang, tok, c,
             sum(c) OVER (PARTITION BY lang ORDER BY c DESC, tok
                          ROWS UNBOUNDED PRECEDING) AS cum,
             row_number() OVER (PARTITION BY lang
                                ORDER BY c DESC, tok) AS rk,
             sum(c) OVER (PARTITION BY lang) AS total,
             count(*) OVER (PARTITION BY lang) AS vocab
      FROM cnt)
    SELECT lang, CAST(any_value(vocab) AS BIGINT) AS vocab,
           CAST(any_value(total) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN 10 * (cum - c) < 9 * total
                         THEN 1 ELSE 0 END) AS BIGINT) AS k90,
           {_half_up_sql(
               '1000000 * sum(CASE WHEN rk <= 10 THEN c ELSE 0 END)',
               'any_value(total)')} / 1000000.0 AS top10_mass
    FROM ranked GROUP BY lang ORDER BY lang
    """


@query("q_nucleus_mass", oracle=_NUC_ORACLE)
def q_nucleus_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X714 — nucleus (top-p) sampler analytics (Holtzman et al.
    2020): the effective nucleus size — how many distinct tokens the
    sampler must keep to cover p = 0.9 of the unigram mass — and the
    top-10 mass share, per language. A tiny k90 with a fat top-10
    share means truncation sampling collapses to near-greedy for that
    language; a huge k90 flags a fragmented vocabulary (bad
    tokenization or noisy text). Rank ties break lexicographically so
    both engines walk the same cumulative order.

    The 90% threshold is the exact integer test 10·(cum − c) < 9·total
    ("this token starts strictly inside the nucleus") — no float mass
    anywhere; the top-10 share is one half-up micro ratio.

    Scale: explode + combinable (lang, tok) count, then one window
    per language over vocabulary-sized (not corpus-sized) rows."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(_text.tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wlang = W.partitionBy("lang")
    wrank = wlang.orderBy(F.desc("c"), "tok")
    ranked = cnt.select(
        "lang",
        "c",
        F.sum("c").over(wrank.rowsBetween(W.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.row_number().over(wrank).alias("rk"),
        F.sum("c").over(wlang).alias("total"),
        F.count("*").over(wlang).alias("vocab"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.first("vocab").cast("long").alias("vocab"),
            F.first("total").cast("long").alias("total_tokens"),
            F.sum(
                F.when(
                    10 * (F.col("cum") - F.col("c")) < 9 * F.col("total"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("k90"),
            (
                _half_up_col(
                    "1000000 * sum(CASE WHEN rk <= 10 THEN c ELSE 0 END)",
                    "first(total)",
                )
                / 1000000.0
            ).alias("top10_mass"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X715 — exact 1-D Wasserstein distance (per-group vs pooled)
# ---------------------------------------------------------------------------

_W1_ORACLE = f"""
    WITH pts AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    support AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS ca,
             sum(count(*)) OVER (ORDER BY cents
                                 ROWS UNBOUNDED PRECEDING) AS cuma,
             lead(cents) OVER (ORDER BY cents) AS nxt
      FROM pts GROUP BY cents),
    bytype AS (
      SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cg
      FROM pts GROUP BY event_type, cents),
    grid AS (
      SELECT t.event_type, s.cents, s.cuma, s.nxt,
             sum(coalesce(b.cg, 0)) OVER (
               PARTITION BY t.event_type ORDER BY s.cents
               ROWS UNBOUNDED PRECEDING) AS cumg
      FROM (SELECT DISTINCT event_type FROM pts) t
      CROSS JOIN support s
      LEFT JOIN bytype b
        ON b.event_type = t.event_type AND b.cents = s.cents),
    sized AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ng
      FROM pts GROUP BY event_type),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS na FROM pts),
    terms AS (
      SELECT g.event_type,
             {_half_up_sql(
                 '(' + _half_up_sql(
                     '1000000 * abs(g.cumg * tot.na - g.cuma * z.ng)',
                     'z.ng * tot.na')
                 + ') * (g.nxt - g.cents)', '100')} AS t6
      FROM grid g JOIN sized z ON z.event_type = g.event_type
      CROSS JOIN tot
      WHERE g.nxt IS NOT NULL)
    SELECT t.event_type, z.ng AS n,
           sum(t.t6) / 1000000.0 AS w1
    FROM terms t JOIN sized z ON z.event_type = t.event_type
    GROUP BY t.event_type, z.ng ORDER BY t.event_type
    """


@query("q_wasserstein_1d", oracle=_W1_ORACLE)
def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X715 — exact 1-D Wasserstein-1 (earth-mover) distance between
    each event type's value distribution and the pooled distribution:
    W1 = ∫|F_g − F_pool| dx over the merged support — THE metric for
    "how far has this segment's distribution moved" that, unlike KS,
    weights by distance moved, and unlike KL, is finite on disjoint
    supports (the reason OT took over distribution-shift analysis).
    On centi-quantized empirical CDFs the integral is a finite sum of
    exact integer terms |cumg·N − cuma·n_g|·gap, divided once at the
    end — both engines emit identical doubles.

    Scale: support size is bounded by the value quantization (centi
    grid), NOT the corpus, so the grid walk is O(groups × support);
    the per-point counts are one combinable groupBy each."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    support = (
        pts.groupBy("cents")
        .agg(F.count("*").cast("long").alias("ca"))
        .select(
            "cents",
            "ca",
            F.sum("ca")
            .over(W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0))
            .alias("cuma"),
            F.lead("cents").over(W.orderBy("cents")).alias("nxt"),
        )
    )
    bytype = pts.groupBy("event_type", "cents").agg(
        F.count("*").cast("long").alias("cg")
    )
    types = pts.select("event_type").distinct()
    grid = (
        types.crossJoin(support)
        .join(bytype, ["event_type", "cents"], "left")
        .select(
            "event_type",
            "cents",
            "cuma",
            "nxt",
            F.sum(F.coalesce("cg", F.lit(0)))
            .over(
                W.partitionBy("event_type")
                .orderBy("cents")
                .rowsBetween(W.unboundedPreceding, 0)
            )
            .alias("cumg"),
        )
    )
    sized = pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("ng")
    )
    na = pts.count()
    # per-point quantization BEFORE the support sum: the micro |F
    # diff| (≤ 1e6) times the gap stays int64-safe at ANY corpus size,
    # where 1e6·Σ(diff·gap) overflowed at 8× growth (probe-caught)
    terms = (
        grid.filter(F.col("nxt").isNotNull())
        .join(F.broadcast(sized), "event_type")
        .select(
            "event_type",
            "ng",
            F.expr(
                "(2 * (("
                f"(2 * (1000000 * abs(cumg * cast({na} as bigint) "
                f"- cuma * ng)) + (ng * cast({na} as bigint))) "
                f"div (2 * (ng * cast({na} as bigint)))"
                ") * (nxt - cents)) + 100) div 200"
            ).alias("t6"),
        )
    )
    return (
        terms.groupBy("event_type", "ng")
        .agg((F.sum("t6") / 1000000.0).alias("w1"))
        .select("event_type", F.col("ng").alias("n"), "w1")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# X716 — linear-time kernel MMD via hash-seeded spectral features
# ---------------------------------------------------------------------------

_MMD_D = 16  # spectral features
_MMD_DIMS = 16  # embedding dims used
_MMD_WSCALE = 3  # frequency scale


def _mmd_seed(s: str) -> int:
    """Portable 60-bit hash matching functions.hashing.token_hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


#: deterministic spectral frequencies (milli units, ∈ [-3000, 3000])
#: and phases (1e-7 rad units, ∈ [0, 2π)) — generated once from the
#: portable md5 hash, embedded as literals in BOTH engines
_MMD_W = [
    [
        _MMD_WSCALE * ((_mmd_seed(f"mmd:{j}:{k}") % 2001) - 1000)
        for k in range(_MMD_DIMS)
    ]
    for j in range(_MMD_D)
]
_MMD_B = [
    10000 * (_mmd_seed(f"mmd:b:{j}") % 6284) for j in range(_MMD_D)
]


def _mmd_oracle() -> str:
    rows = ",\n        ".join(
        f"({j}, {k}, {_MMD_W[j][k]})"
        for j in range(_MMD_D)
        for k in range(_MMD_DIMS)
    )
    brows = ", ".join(f"({j}, {_MMD_B[j]})" for j in range(_MMD_D))
    return f"""
    WITH w(j, k, wm) AS (VALUES
        {rows}),
    b(j, b7) AS (VALUES {brows}),
    x AS (
      SELECT vec_id, label, d.k,
             CAST(round(CAST(embedding[d.k + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS x4
      FROM (SELECT * FROM embeddings
            WHERE len(embedding) >= {_MMD_DIMS}) e
      CROSS JOIN (SELECT unnest(range({_MMD_DIMS})) AS k) d),
    ang AS (
      SELECT x.vec_id, x.label, w.j,
             sum(x.x4 * w.wm) AS s7
      FROM x JOIN w ON w.k = x.k
      GROUP BY x.vec_id, x.label, w.j),
    z AS (
      SELECT vec_id, label, a.j,
             CAST(round(1000000.0 * cos((a.s7 + b.b7) / 10000000.0))
                  AS BIGINT) AS z6
      FROM ang a JOIN b ON b.j = a.j),
    perlab AS (
      SELECT label, j, CAST(count(*) AS BIGINT) AS n,
             sum(z6) AS sz
      FROM z GROUP BY label, j),
    gtot AS (
      SELECT j, sum(n) AS na, sum(sz) AS sza FROM perlab GROUP BY j),
    mu AS (
      SELECT p.label, p.j, p.n, g.na - p.n AS nr,
             {_sh_sql('p.sz', 'p.n')} AS mx6,
             {_sh_sql('(g.sza - p.sz)', '(g.na - p.n)')} AS my6
      FROM perlab p JOIN gtot g ON g.j = p.j)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(any_value(n) AS BIGINT) AS n,
           {_half_up_sql(
               '2 * sum((mx6 - my6) * (mx6 - my6))',
               str(_MMD_D * 1000000))} / 1000000.0 AS mmd2
    FROM mu GROUP BY label ORDER BY label
    """


@query("q_mmd_rff", oracle=_mmd_oracle())
def q_mmd_rff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X716 — linear-time kernel MMD two-sample statistic via random
    Fourier features (Rahimi-Recht 2007 features; Gretton et al. 2012
    MMD): for each label group vs the rest of the corpus, MMD² =
    (2/D)·Σ_j (μ_X z_j − μ_Y z_j)² over D = {_MMD_D} spectral features
    z_j(x) = cos(w_j·x + b_j). This is the streaming-friendly form of
    the kernel two-sample test — mean embeddings are one combinable
    aggregate, vs the exact estimator's O(n²) kernel matrix. The
    spectral measure is hash-seeded uniform on a box (a valid PD
    shift-invariant kernel by Bochner — a product-of-sinc kernel, not
    the Gaussian; documented, since the feature count not the kernel
    family is what the pipeline tunes).

    Determinism: frequencies/phases are md5-derived integer literals
    embedded in both engines; the dot product is an exact integer sum
    (1e-4 components × milli frequencies); cos is a libm call on an
    identical double, quantized per-(row, j) to micro before the
    group means (signed half-up) and final quadratic form.

    Scale: the feature map is O(n·D·d) with a broadcast-sized weight
    table; everything after is per-(label, j) cells — KB-sized state
    regardless of corpus."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= _MMD_DIMS
    )
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.slice("embedding", 1, _MMD_DIMS)).alias("k", "ev"),
    ).select(
        "vec_id",
        "label",
        (F.col("k")).alias("k"),
        F.round(F.col("ev").cast("double") * 10000).cast("long").alias("x4"),
    )
    wdf = local_frame(
        emb.sparkSession,
        [
            (j, k, _MMD_W[j][k])
            for j in range(_MMD_D)
            for k in range(_MMD_DIMS)
        ],
        "j int, k int, wm long",
    )
    bdf = local_frame(
        emb.sparkSession,
        [(j, _MMD_B[j]) for j in range(_MMD_D)], "j int, b7 long"
    )
    ang = (
        x.join(F.broadcast(wdf), "k")
        .groupBy("vec_id", "label", "j")
        .agg(F.sum(F.col("x4") * F.col("wm")).alias("s7"))
    )
    z = ang.join(F.broadcast(bdf), "j").select(
        "vec_id",
        "label",
        "j",
        F.round(
            1000000.0
            * F.cos((F.col("s7") + F.col("b7")) / F.lit(10000000.0))
        )
        .cast("long")
        .alias("z6"),
    )
    perlab = z.groupBy("label", "j").agg(
        F.count("*").cast("long").alias("n"), F.sum("z6").alias("sz")
    )
    glob = perlab.groupBy("j").agg(
        F.sum("n").alias("na"), F.sum("sz").alias("sza")
    )
    mu = perlab.join(glob, "j").select(
        "label",
        "j",
        "n",
        _sh_col("sz", "n").alias("mx6"),
        _sh_col("(sza - sz)", "(na - n)").alias("my6"),
    )
    return (
        mu.groupBy("label")
        .agg(
            F.first("n").cast("long").alias("n"),
            (
                _half_up_col(
                    "2 * sum((mx6 - my6) * (mx6 - my6))",
                    str(_MMD_D * 1000000),
                )
                / 1000000.0
            ).alias("mmd2"),
        )
        .select(F.col("label").cast("long").alias("label"), "n", "mmd2")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# X717 — linear-kernel CKA between two embedding views
# ---------------------------------------------------------------------------

_CKA_D = 8  # dims per view (view X = dims 1..8, view Y = dims 9..16)


def _cka_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT label, embedding FROM embeddings
      WHERE len(embedding) >= {2 * _CKA_D}),
    x AS (
      SELECT label, i.i, j.j,
             CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS xi,
             CAST(round(CAST(embedding[j.j + 1] AS DOUBLE) * 10000)
                  AS BIGINT) AS xj,
             CAST(round(CAST(embedding[i.i + 1 + {_CKA_D}] AS DOUBLE)
                        * 10000) AS BIGINT) AS yi,
             CAST(round(CAST(embedding[j.j + 1 + {_CKA_D}] AS DOUBLE)
                        * 10000) AS BIGINT) AS yj
      FROM e
      CROSS JOIN (SELECT unnest(range({_CKA_D})) AS i) i
      CROSS JOIN (SELECT unnest(range({_CKA_D})) AS j) j),
    mom AS (
      SELECT label, i, j, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(xi * yj) AS HUGEINT) AS sxy,
             CAST(sum(xi * xj) AS HUGEINT) AS sxx,
             CAST(sum(yi * yj) AS HUGEINT) AS syy,
             CAST(sum(xi) AS HUGEINT) AS sxi,
             CAST(sum(yj) AS HUGEINT) AS syj,
             CAST(sum(xj) AS HUGEINT) AS sxj,
             CAST(sum(yi) AS HUGEINT) AS syi
      FROM x GROUP BY label, i, j),
    cov AS (
      SELECT label, n,
             (n * sxy - sxi * syj) AS cxy,
             (n * sxx - sxi * sxj) AS cxx,
             (n * syy - syi * syj) AS cyy
      FROM mom),
    frob AS (
      SELECT label, any_value(n) AS n,
             sum(cxy * cxy) AS fxy,
             sum(cxx * cxx) AS fxx,
             sum(cyy * cyy) AS fyy
      FROM cov GROUP BY label)
    SELECT CAST(label AS BIGINT) AS label, CAST(n AS BIGINT) AS n,
           round(CAST(fxy AS DOUBLE)
                 / (sqrt(CAST(fxx AS DOUBLE)) * sqrt(CAST(fyy AS DOUBLE))),
                 6) AS cka
    FROM frob ORDER BY label
    """


@query("q_cka_alignment", oracle=_cka_oracle())
def q_cka_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X717 — linear-kernel CKA (centered kernel alignment, Kornblith
    et al. 2019) between two views of the embedding space (dims 1-8
    vs dims 9-16), per label group: CKA = ‖Cov_XY‖²_F / (‖Cov_XX‖_F
    ‖Cov_YY‖_F) — THE standard representation-similarity measure
    (checkpoint drift, layer matching, distillation audits), invariant
    to rotation and isotropic scaling where naive correlation is not.

    Spark-first: CKA needs only the d×d cross-covariance moments, so
    the whole statistic reduces to ONE combinable aggregate over
    per-row products of 1e-4-quantized components (exact integers;
    n·Sxy − Sx·Sy and its square stay inside int128 — Python ints on
    the Spark side, HUGEINT in DuckDB); the final Frobenius ratio is
    one sqrt on identical doubles, rounded 6.

    Scale: moment partials are d² integers per Arrow batch regardless
    of corpus size; no shuffle wider than (label, i, j) cells."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") >= 2 * _CKA_D
    )
    # the 16 quantized components and all 209 moment aggregates are
    # built as SQL STRINGS (2 py4j calls total instead of ~1200 Column
    # constructions — driver-side plan building was this key's entire
    # bench cost, guide §7.3); expressions are identical to the old
    # Column form. Per-cell moment sums accumulate in decimal(38,0)
    # (int128-class), matching the oracle's HUGEINT — sum over int64
    # products would silently wrap at very large row counts (ADVICE
    # r10; same class as the W1 overflow fixed in 206e495).
    v = emb.selectExpr(
        "label",
        *[
            f"CAST(round(CAST(element_at(embedding, {k + 1}) AS DOUBLE)"
            f" * 10000) AS BIGINT) AS v{k}"
            for k in range(2 * _CKA_D)
        ],
    )
    dec = "decimal(38,0)"
    aggs = ["count(*) AS n"]
    for i in range(_CKA_D):
        aggs.append(f"sum(v{i}) AS sx{i}")
        aggs.append(f"sum(v{i + _CKA_D}) AS sy{i}")
    for i in range(_CKA_D):
        for j in range(_CKA_D):
            aggs.append(
                f"sum(CAST(v{i} * v{j + _CKA_D} AS {dec})) AS sxy{i}_{j}"
            )
            aggs.append(f"sum(CAST(v{i} * v{j} AS {dec})) AS sxx{i}_{j}")
            aggs.append(
                f"sum(CAST(v{i + _CKA_D} * v{j + _CKA_D} AS {dec}))"
                f" AS syy{i}_{j}"
            )
    rows = spark.sql(
        f"SELECT label, {', '.join(aggs)} FROM {{v}} GROUP BY label", v=v
    ).collect()
    out = []
    for r in sorted(rows, key=lambda r: r["label"]):
        n = int(r["n"])
        fxy = fxx = fyy = 0
        for i in range(_CKA_D):
            for j in range(_CKA_D):
                cxy = n * int(r[f"sxy{i}_{j}"]) - int(r[f"sx{i}"]) * int(
                    r[f"sy{j}"]
                )
                cxx = n * int(r[f"sxx{i}_{j}"]) - int(r[f"sx{i}"]) * int(
                    r[f"sx{j}"]
                )
                cyy = n * int(r[f"syy{i}_{j}"]) - int(r[f"sy{i}"]) * int(
                    r[f"sy{j}"]
                )
                fxy += cxy * cxy
                fxx += cxx * cxx
                fyy += cyy * cyy
        cka = round(
            float(fxy) / (math.sqrt(float(fxx)) * math.sqrt(float(fyy))), 6
        )
        out.append((int(r["label"]), n, cka))
    return local_frame(
        spark, out, "label long, n long, cka double"
    ).orderBy("label")
