"""Round-9 continuation batch C (X703+): LLM-as-judge audits,
embedding drift, and the unbiased best-of-n curve.

Reference scope note: §2.13 mandate extensions, reference-free.

- X703 q_position_bias: position-bias audit of pairwise judgments
  (Zheng et al. 2023 — LLM judges prefer the first-listed answer).
- X704 q_embedding_drift: multivariate embedding drift via PSI on
  deterministic ±1 random projections — the sketch that catches
  encoder-version drift X115's per-column PSI cannot see.
- X705 q_lc_winrate: length-controlled win rate (AlpacaEval 2.0
  idea) — logistic-regression-debiased judge score, trajectory in
  exact integer weights (the X691 discipline).
- X706 q_bon_unbiased: unbiased best-of-n reward estimator over
  order statistics — P(max ≤ r_(i)) = Π_{k<n}(i−k)/(N−k) per row,
  so no binomial coefficient ever materializes.

Same determinism contract as round9b: integer half-up quantization
before any cross-engine sum or ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import token_hash, token_hash_sql
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql

# ---------------------------------------------------------------------------
# X703 — position-bias audit of pairwise judgments
# ---------------------------------------------------------------------------

_PB_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    games AS (
      SELECT a.user_id, a.value AS va, b.value AS vb
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE a.rn % 2 = 1 AND a.value <> b.value),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN va > vb THEN 1 ELSE 0 END) AS BIGINT)
               AS first_wins
      FROM games)
    SELECT n_pairs, first_wins,
           {_half_up_sql('1000000 * first_wins', 'n_pairs')} / 1000000.0
             AS p_first,
           round((first_wins - 0.5 * n_pairs)
                 / sqrt(n_pairs * 0.25), 6) AS z
    FROM agg
    """


@query("q_position_bias", oracle=_PB_ORACLE)
def q_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X703 — position-bias audit of pairwise judgments (Zheng et al.
    2023): when the same judge scores answer pairs, a win rate for
    the FIRST-listed answer deviating from 1/2 is presentation bias,
    not quality signal — the reason MT-Bench swaps positions and
    votes twice. Judgment pairs are consecutive events per prompt
    (the X685 pairing), ties dropped; reported: first-position win
    rate and its binomial z against the fair coin.

    Determinism: counts are integers; the win rate is one half-up
    division; z is one fixed-shape expression on integers rounded 6.

    Scale: one window + one combinable aggregate."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lead("value").over(w).alias("vb"),
    )
    games = seq.filter(
        (F.col("rn") % 2 == 1)
        & F.col("vb").isNotNull()
        & (F.col("value") != F.col("vb"))
    )
    agg = games.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum((F.col("value") > F.col("vb")).cast("long"))
        .cast("long")
        .alias("first_wins"),
    )
    return agg.select(
        "n_pairs",
        "first_wins",
        (
            _half_up_col("1000000 * first_wins", "n_pairs")
            / F.lit(1000000.0)
        ).alias("p_first"),
        F.round(
            (F.col("first_wins") - 0.5 * F.col("n_pairs"))
            / F.sqrt(F.col("n_pairs") * 0.25),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# X704 — embedding drift via PSI on deterministic ±1 projections
# ---------------------------------------------------------------------------

_ED_NPROJ = 4
_ED_NBINS = 8
_ED_DIM = 64
_ED_BINW = 4000000  # micro-units per bin; grid covers ±16e6
_ED_NANO = 1000000000


def _ed_z_sql(p: int) -> str:
    """Integer projection z_p = Σ_i s(p,i)·round(1e6·emb_i) with ±1
    signs derived from the shared token hash — both engines rebuild
    the identical matrix from constants, no stored artifact."""
    terms = " + ".join(
        f"(CASE WHEN {token_hash_sql(repr(f'{p}|{i}'))} % 2 = 0 "
        f"THEN 1 ELSE -1 END) "
        f"* CAST(round(1000000 * CAST(embedding[{i + 1}] AS DOUBLE)) "
        f"AS BIGINT)"
        for i in range(_ED_DIM)
    )
    return f"({terms})"


def _ed_oracle() -> str:
    projs = []
    for p in range(_ED_NPROJ):
        projs.append(
            f"SELECT vec_id, {p} AS proj, {_ed_z_sql(p)} AS z "
            f"FROM embeddings"
        )
    union = " UNION ALL ".join(projs)
    return f"""
    WITH z AS MATERIALIZED ({union}),
    binned AS (
      SELECT proj, vec_id % 2 AS half,
             least(greatest((z + 16000000) // {_ED_BINW}, 0),
                   {_ED_NBINS - 1}) AS bin
      FROM z),
    grid AS (
      SELECT p.p AS proj, b.b AS bin, h.h AS half
      FROM (SELECT unnest(range({_ED_NPROJ})) AS p) p,
           (SELECT unnest(range({_ED_NBINS})) AS b) b,
           (SELECT unnest(range(2)) AS h) h),
    cnt AS (
      SELECT g.proj, g.bin, g.half,
             CAST(count(x.bin) AS BIGINT) AS c
      FROM grid g LEFT JOIN binned x
        ON x.proj = g.proj AND x.bin = g.bin AND x.half = g.half
      GROUP BY g.proj, g.bin, g.half),
    tot AS (
      SELECT proj, half, sum(c) AS n FROM cnt GROUP BY proj, half),
    terms AS (
      SELECT r.proj, r.bin,
             CAST(round({_ED_NANO} * (
               ((r.c + 1.0) / (tr.n + {_ED_NBINS})
                - (u.c + 1.0) / (tu.n + {_ED_NBINS}))
               * ln(((r.c + 1.0) / (tr.n + {_ED_NBINS}))
                    / ((u.c + 1.0) / (tu.n + {_ED_NBINS})))))
               AS BIGINT) AS t9
      FROM cnt r
      JOIN cnt u ON u.proj = r.proj AND u.bin = r.bin
        AND r.half = 0 AND u.half = 1
      JOIN tot tr ON tr.proj = r.proj AND tr.half = 0
      JOIN tot tu ON tu.proj = r.proj AND tu.half = 1)
    SELECT CAST(proj AS BIGINT) AS proj,
           {_half_up_sql('greatest(sum(t9), 0)', '1000')} / 1000000.0
             AS psi
    FROM terms GROUP BY proj ORDER BY proj
    """


@query("q_embedding_drift", oracle=_ed_oracle())
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X704 — embedding-space drift via PSI over deterministic ±1
    random projections (the Achlioptas sketch): per-column PSI
    (X115) is blind to joint rotations — an encoder version bump
    that preserves marginals but moves the joint distribution; a
    handful of fixed random projections witnesses such moves with
    probability → 1. The two halves (vec_id parity — the stand-in
    for before/after windows) are binned on a fixed integer grid per
    projection and compared by add-1-smoothed PSI.

    Determinism: projections are exact integer dot products with
    hash-derived ±1 signs (no stored matrix); binning is integer;
    each PSI term is one fixed-shape expression quantized to 1e-9
    before the 8-term sum.

    Scale: one explode-free map pass (the ±1 signs fold into a
    fixed-width expression) + an (nproj × 8 × 2)-cell combinable
    aggregate. The streaming face (run_streaming_embedding_drift)
    folds the same cells additively — X707."""
    return embedding_drift_from_counts(
        embedding_bin_counts(load(spark, sf_dir, "embeddings"))
    )


# ---------------------------------------------------------------------------
# X705 — length-controlled win rate
# ---------------------------------------------------------------------------

_LC_STEPS = 3
_LC_NANO = 1000000000

# pairs: consecutive events per prompt; y = first wins, x = scaled
# length gap of the props payloads
_LC_PAIRS_SQL = """
    seq AS (
      SELECT user_id, value, length(props) AS lp,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    pairs AS (
      SELECT CASE WHEN a.value > b.value THEN 1 ELSE 0 END AS y,
             (a.lp - b.lp) / 10.0 AS x
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE a.rn % 2 = 1 AND a.value <> b.value)
    """


def _lc_sig(prev: str) -> str:
    return (
        f"(1.0 / (1.0 + exp(-({prev}.w0 / 1e9 "
        f"+ ({prev}.w1 / 1e9) * p.x))))"
    )


def _lc_oracle() -> str:
    ctes = [
        _LC_PAIRS_SQL.strip(),
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1)",
    ]
    prev = "w0"
    for i in range(1, _LC_STEPS + 1):
        sig = _lc_sig(prev)
        ctes.append(
            f"""g{i} AS (
      SELECT count(*) AS n,
             sum(CAST(round({_LC_NANO} * ({sig} - p.y)) AS BIGINT)) AS t0,
             sum(CAST(round({_LC_NANO} * (({sig} - p.y) * p.x))
                 AS BIGINT)) AS t1
      FROM pairs p CROSS JOIN {prev})"""
        )

        def upd(k: int) -> str:
            t = f"g{i}.t{k}"
            den = f"(2 * g{i}.n)"
            mag = f"((2 * abs({t}) + {den}) // (2 * {den}))"
            return (
                f"{prev}.w{k} - (CASE WHEN {t} >= 0 THEN {mag} "
                f"ELSE -{mag} END) AS w{k}"
            )

        ctes.append(
            f"w{i} AS (SELECT {upd(0)}, {upd(1)} "
            f"FROM {prev} CROSS JOIN g{i})"
        )
        prev = f"w{i}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    raw AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(y) AS BIGINT) AS wins
      FROM pairs)
    SELECT raw.n_pairs,
           {_half_up_sql('1000000 * raw.wins', 'raw.n_pairs')} / 1000000.0
             AS raw_winrate,
           round(1.0 / (1.0 + exp(-(w.w0 / 1e9))), 6) AS lc_winrate,
           round(w.w1 / 1e9, 6) AS length_coef
    FROM raw CROSS JOIN {prev} w
    """


@query("q_lc_winrate", oracle=_lc_oracle())
def q_lc_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X705 — length-controlled win rate (the AlpacaEval 2.0 / Dubois
    et al. debiasing): regress the pairwise win indicator on the
    answers' length gap with logistic GD and report σ(w0) — the win
    rate AT ZERO LENGTH GAP, which removes the verbosity channel
    X676 measures. length_coef > 0 quantifies how much the judge
    pays for verbosity. Trajectory uses the X691 discipline: per-step
    gradients are 1e-9-quantized integer sums, so the weights are
    exact integer nano-units in both engines (η = 1/2, {_LC_STEPS}
    steps).

    Scale: the pair table is one window pass; each GD step is one
    combinable aggregate (2 longs); no pairwise blowup anywhere."""
    e = load(spark, sf_dir, "events")
    wnd = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.length("props").alias("lp"),
        F.row_number().over(wnd).alias("rn"),
        F.lead("value").over(wnd).alias("vb"),
        F.lead(F.length("props")).over(wnd).alias("lpb"),
    )
    pairs = (
        seq.filter(
            (F.col("rn") % 2 == 1)
            & F.col("vb").isNotNull()
            & (F.col("value") != F.col("vb"))
        )
        .select(
            (F.col("value") > F.col("vb")).cast("int").alias("y"),
            ((F.col("lp") - F.col("lpb")) / 10.0).alias("x"),
        )
        .localCheckpoint(eager=True)
    )

    def half_up_signed(a: int, b: int) -> int:
        mag = (2 * abs(a) + b) // (2 * b)
        return mag if a >= 0 else -mag

    w = [0, 0]
    for _ in range(_LC_STEPS):
        lin = F.lit(w[0] / 1e9) + F.lit(w[1] / 1e9) * F.col("x")
        rr = 1.0 / (1.0 + F.exp(-lin)) - F.col("y")
        g = pairs.agg(
            F.count("*").alias("n"),
            F.sum(F.round(_LC_NANO * rr).cast("long")).alias("t0"),
            F.sum(F.round(_LC_NANO * (rr * F.col("x"))).cast("long")).alias(
                "t1"
            ),
        ).collect()[0]
        den = 2 * g["n"]
        w = [w[k] - half_up_signed(g[f"t{k}"], den) for k in range(2)]
    import math

    raw = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("y").cast("long").alias("wins"),
    )
    return raw.select(
        "n_pairs",
        (
            _half_up_col("1000000 * wins", "n_pairs") / F.lit(1000000.0)
        ).alias("raw_winrate"),
        F.round(F.lit(1.0 / (1.0 + math.exp(-(w[0] / 1e9)))), 6).alias(
            "lc_winrate"
        ),
        F.round(F.lit(w[1] / 1e9), 6).alias("length_coef"),
    )


# ---------------------------------------------------------------------------
# X706 — unbiased best-of-n reward estimator (order statistics)
# ---------------------------------------------------------------------------

_BON_NS = (1, 4, 16)
_BON_NANO = 1000000000


def _bon_f_sql(n: int) -> str:
    """P(max of n ≤ r_(i)) = Π_{k=0}^{n−1} (i−k)/(N−k) as one
    fixed-shape expression (0 when i < n)."""
    prod = " * ".join(f"((i - {k}) * 1.0 / (nn - {k}))" for k in range(n))
    return (
        f"CASE WHEN i >= {n} THEN CAST(round({_BON_NANO} * ({prod})) "
        f"AS BIGINT) ELSE 0 END"
    )


def _bon_oracle() -> str:
    per_n = []
    for n in _BON_NS:
        per_n.append(
            f"""SELECT event_type, {n} AS n, sum(wgt * cents) AS s
      FROM (SELECT event_type, cents,
                   f9 - coalesce(lag(f9) OVER (PARTITION BY event_type
                        ORDER BY i), 0) AS wgt
            FROM (SELECT event_type, i, nn, cents, {_bon_f_sql(n)} AS f9
                  FROM ranked) t0) t
      GROUP BY event_type"""
        )
    union = " UNION ALL ".join(f"({q})" for q in per_n)
    return f"""
    WITH ranked AS MATERIALIZED (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS i,
             count(*) OVER (PARTITION BY event_type) AS nn
      FROM events),
    est AS ({union})
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN s >= 0
             THEN {_half_up_sql('s', str(_BON_NANO // 10000))}
             ELSE -{_half_up_sql('-s', str(_BON_NANO // 10000))} END
             AS BIGINT) / 1000000.0 AS bon_reward
    FROM est ORDER BY event_type, n
    """


@query("q_bon_unbiased", oracle=_bon_oracle())
def q_bon_unbiased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X706 — unbiased best-of-n reward estimator (the WebGPT /
    Nakano et al. appendix estimator): from N samples per prompt
    family, E[max of n] for any n ≤ N without re-sampling, via order
    statistics — weight of the i-th smallest reward is
    P(max ≤ r_(i)) − P(max ≤ r_(i−1)) with P(max ≤ r_(i)) =
    C(i,n)/C(N,n) = Π_{{k<n}}(i−k)/(N−k), evaluated per row as a
    fixed product so no binomial coefficient (astronomical at
    N≈2000) ever materializes. The BoN curve (n = 1, 4, 16) is THE
    reward-model overoptimization diagnostic.

    Determinism: the CDF product is one fixed-shape double expression
    quantized to 1e-9 (monotone in i), weights are integer
    differences via lag, and the weighted sum is integer cents.

    Scale: one per-group sort window + combinable sums; groups are
    event_type (prompt families)."""
    e = load(spark, sf_dir, "events")
    wnd = W.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(wnd).alias("i"),
        F.count("*").over(W.partitionBy("event_type")).alias("nn"),
    ).localCheckpoint(eager=True)
    outs = []
    for n in _BON_NS:
        prod = None
        for k in range(n):
            f = (F.col("i") - k) * 1.0 / (F.col("nn") - k)
            prod = f if prod is None else prod * f
        f9 = F.when(
            F.col("i") >= n, F.round(_BON_NANO * prod).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        wl = W.partitionBy("event_type").orderBy("i")
        t = ranked.select("event_type", "i", "cents", f9.alias("f9"))
        t = t.withColumn(
            "wgt", F.col("f9") - F.coalesce(F.lag("f9").over(wl), F.lit(0))
        )
        outs.append(
            t.groupBy("event_type")
            .agg(F.sum(F.col("wgt") * F.col("cents")).alias("s"))
            .select("event_type", F.lit(n).cast("long").alias("n"), "s")
        )
    alln = outs[0]
    for o in outs[1:]:
        alln = alln.unionAll(o)
    den = str(_BON_NANO // 10000)
    return alln.select(
        "event_type",
        "n",
        (
            F.expr(
                f"CASE WHEN s >= 0 THEN (2 * s + {den}) div (2 * {den}) "
                f"ELSE -((2 * (-s) + {den}) div (2 * {den})) END"
            )
            / F.lit(1000000.0)
        ).alias("bon_reward"),
    ).orderBy("event_type", "n")


def embedding_drift_from_counts(cnt: DataFrame) -> DataFrame:
    """(proj, bin, half, c) dense cell counts → the q_embedding_drift
    output shape — shared by the batch query's tail and the streaming
    drift store (streaming/pipeline.run_streaming_embedding_drift)."""
    # cnt is referenced FOUR times below (both halves of the bin join +
    # both halves of the totals); un-materialized, each reference
    # re-runs the full upstream projection pass (guide §2.4). The frame
    # is nproj×nbins×2 cells — the checkpoint is microscopic.
    cnt = cnt.localCheckpoint(eager=True)
    tot = cnt.groupBy("proj", "half").agg(F.sum("c").alias("n"))
    r = (
        cnt.filter(F.col("half") == 0)
        .select("proj", "bin", F.col("c").alias("cr"))
        .join(
            cnt.filter(F.col("half") == 1).select(
                "proj", "bin", F.col("c").alias("cu")
            ),
            ["proj", "bin"],
        )
        .join(
            tot.filter(F.col("half") == 0).select(
                "proj", F.col("n").alias("nr")
            ),
            "proj",
        )
        .join(
            tot.filter(F.col("half") == 1).select(
                "proj", F.col("n").alias("nu")
            ),
            "proj",
        )
    )
    pr = (F.col("cr") + 1.0) / (F.col("nr") + _ED_NBINS)
    pu = (F.col("cu") + 1.0) / (F.col("nu") + _ED_NBINS)
    terms = r.select(
        "proj",
        F.round(_ED_NANO * ((pr - pu) * F.log(pr / pu)))
        .cast("long")
        .alias("t9"),
    )
    return (
        terms.groupBy(F.col("proj").cast("long").alias("proj"))
        .agg(
            (
                _half_up_col("greatest(sum(t9), 0)", "1000")
                / F.lit(1000000.0)
            ).alias("psi")
        )
        .orderBy("proj")
    )


def embedding_bin_counts(emb: DataFrame) -> DataFrame:
    """Embeddings → dense (proj, bin, half, c) cells (zero-filled) —
    the additive partial the drift store folds per micro-batch."""
    # all projections in ONE pass (the old per-projection union re-read
    # the source once per projection), with each z built as ONE SQL
    # string: the ±1 signs are md5-of-literal constants, so they are
    # folded here in Python (hashlib md5 ≡ token_hash on literals —
    # int(md5[:15], 16) % 2) instead of as ~256 Column objects whose
    # py4j construction round-trips cost ~8 s PER INVOCATION — the
    # query's entire former cost was driver-side plan building, not
    # execution (guide §1.2/§2.4; same fix class as q_ams_f2).
    import hashlib

    def _sign(p: int, i: int) -> int:
        h = int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    def _z_sql(p: int) -> str:
        return " + ".join(
            f"({_sign(p, i)}) * CAST(round(1000000 * "
            f"CAST(element_at(embedding, {i + 1}) AS DOUBLE)) AS BIGINT)"
            for i in range(_ED_DIM)
        )

    zdf = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(_z_sql(p)) for p in range(_ED_NPROJ)])
        ).alias("proj", "z"),
    )
    binned = zdf.select(
        "proj",
        (F.col("vec_id") % 2).alias("half"),
        F.least(
            F.greatest(F.expr(f"(z + 16000000) div {_ED_BINW}"), F.lit(0)),
            F.lit(_ED_NBINS - 1),
        ).alias("bin"),
    )
    grid = local_frame(
        emb.sparkSession,
        [
            (p, b, h)
            for p in range(_ED_NPROJ)
            for b in range(_ED_NBINS)
            for h in (0, 1)
        ],
        "proj int, bin long, half long",
    )
    return grid.join(
        binned.groupBy("proj", "bin", "half").agg(F.count("*").alias("c0")),
        ["proj", "bin", "half"],
        "left",
    ).select(
        "proj", "bin", "half", F.coalesce("c0", F.lit(0)).alias("c")
    )


# ---------------------------------------------------------------------------
# X708 — Rasch model (1-parameter IRT) item-difficulty fit
# ---------------------------------------------------------------------------

_IRT_NU = 16  # ability buckets (user_id % 16)
_IRT_ITERS = 3
_IRT_CLAMP = 500000  # max Newton step, micro units
_IRT_RANGE = 4000000  # parameter clamp, micro units


def _irt_sig_sql(th: str, b: str) -> str:
    return f"(1.0 / (1.0 + exp(-((({th}) - ({b})) / 1e6))))"


def _irt_step_sql(k: int) -> str:
    """One Newton coordinate round: θ update from the current grid,
    then b update from the θ-updated grid, then center b."""
    sg = _irt_sig_sql("th.th", "bb.b")
    # θ update
    part = f"""
    gth{k} AS (
      SELECT c.u,
             1000000 * sum(c.s)
               - sum(CAST(round(1000000 * c.n * {sg}) AS BIGINT)) AS num6,
             greatest(sum(CAST(round(1000000 * c.n * {sg} * (1.0 - {sg}))
                  AS BIGINT)), 1) AS den6
      FROM cnt c JOIN th{k} th ON th.u = c.u JOIN bb{k} bb ON bb.i = c.i
      GROUP BY c.u),
    th{k + 1} AS (
      SELECT t.u,
             least({_IRT_RANGE}, greatest(-{_IRT_RANGE},
               t.th + least({_IRT_CLAMP}, greatest(-{_IRT_CLAMP},
                 CASE WHEN g.num6 >= 0
                      THEN (2 * g.num6 * 1000000 + g.den6) // (2 * g.den6)
                      ELSE -((2 * (-g.num6) * 1000000 + g.den6)
                             // (2 * g.den6)) END)))) AS th
      FROM th{k} t JOIN gth{k} g ON g.u = t.u)"""
    sg2 = _irt_sig_sql("th.th", "bb.b")
    part += f""",
    gb{k} AS (
      SELECT c.i,
             1000000 * sum(c.s)
               - sum(CAST(round(1000000 * c.n * {sg2}) AS BIGINT)) AS num6,
             greatest(sum(CAST(round(1000000 * c.n * {sg2} * (1.0 - {sg2}))
                  AS BIGINT)), 1) AS den6
      FROM cnt c JOIN th{k + 1} th ON th.u = c.u JOIN bb{k} bb ON bb.i = c.i
      GROUP BY c.i),
    bu{k} AS (
      SELECT t.i,
             least({_IRT_RANGE}, greatest(-{_IRT_RANGE},
               t.b - least({_IRT_CLAMP}, greatest(-{_IRT_CLAMP},
                 CASE WHEN g.num6 >= 0
                      THEN (2 * g.num6 * 1000000 + g.den6) // (2 * g.den6)
                      ELSE -((2 * (-g.num6) * 1000000 + g.den6)
                             // (2 * g.den6)) END)))) AS b
      FROM bb{k} t JOIN gb{k} g ON g.i = t.i),
    bm{k} AS (
      SELECT CASE WHEN sum(b) >= 0
                  THEN (2 * sum(b) + count(*)) // (2 * count(*))
                  ELSE -((2 * (-sum(b)) + count(*)) // (2 * count(*)))
             END AS m
      FROM bu{k}),
    bb{k + 1} AS (
      SELECT u.i, u.b - m.m AS b FROM bu{k} u CROSS JOIN bm{k} m)"""
    return part


def _irt_oracle() -> str:
    steps = "".join("," + _irt_step_sql(k) for k in range(_IRT_ITERS))
    last = _IRT_ITERS
    return f"""
    WITH bar AS (
      SELECT sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(*))
               AS m
      FROM events),
    resp AS (
      SELECT user_id % {_IRT_NU} AS u, e.event_type,
             CASE WHEN e.value >= bar.m THEN 1 ELSE 0 END AS y
      FROM events e, bar),
    items AS (
      SELECT event_type,
             row_number() OVER (ORDER BY event_type) - 1 AS i
      FROM (SELECT DISTINCT event_type FROM resp)),
    cnt AS MATERIALIZED (
      SELECT r.u, it.i, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r.y) AS BIGINT) AS s
      FROM resp r JOIN items it ON it.event_type = r.event_type
      GROUP BY r.u, it.i),
    th0 AS (SELECT unnest(range({_IRT_NU})) AS u, CAST(0 AS BIGINT) AS th),
    bb0 AS (SELECT i, CAST(0 AS BIGINT) AS b
            FROM (SELECT DISTINCT i FROM cnt))
    {steps},
    istat AS (
      SELECT i, sum(n) AS n, sum(s) AS s FROM cnt GROUP BY i)
    SELECT it.event_type,
           bb.b / 1000000.0 AS difficulty,
           {_half_up_sql('1000000 * st.s', 'st.n')} / 1000000.0
             AS p_emp,
           CAST(st.n AS BIGINT) AS n_trials
    FROM bb{last} bb
    JOIN items it ON it.i = bb.i
    JOIN istat st ON st.i = bb.i
    ORDER BY it.event_type
    """


@query("q_rasch_irt", oracle=_irt_oracle())
def q_rasch_irt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X708 — Rasch model (1-parameter IRT): P(correct) =
    σ(θ_user − b_item), the psychometric model behind modern
    benchmark analysis (tinyBenchmarks, adaptive eval): item
    difficulties b and ability buckets θ jointly fitted by
    {_IRT_ITERS} Newton coordinate rounds (θ then b then sum-zero
    centering of b — the Rasch identification constraint). Unlike
    the empirical success rate, b is comparable ACROSS populations
    because ability is marginalized out.

    Spark-first split (the X687/X697 pattern): the O(corpus) work —
    response counting into the {_IRT_NU}×|items| grid — is one
    combinable groupBy; the fit is fixed-size driver math in exact
    micro-integers (clamped Newton steps, signed half-up), which the
    oracle unrolls as CTE rounds over the same integer state.

    Scale: grid cells are bounded (buckets × items); everything
    data-sized is map-side combinable."""
    e = load(spark, sf_dir, "events")
    bar = e.agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count("*"))
        ).alias("m")
    )
    resp = e.crossJoin(F.broadcast(bar)).select(
        (F.col("user_id") % _IRT_NU).alias("u"),
        "event_type",
        (F.col("value") >= F.col("m")).cast("int").alias("y"),
    )
    cnt_rows = (
        resp.groupBy("u", "event_type")
        .agg(F.count("*").alias("n"), F.sum("y").alias("s"))
        .collect()
    )
    etypes = sorted({r["event_type"] for r in cnt_rows})
    idx = {t: i for i, t in enumerate(etypes)}
    cells = sorted(
        (int(r["u"]), idx[r["event_type"]], int(r["n"]), int(r["s"]))
        for r in cnt_rows
    )  # fixed fold order — collect() order is not deterministic
    import math

    def sig(th_micro: int, b_micro: int) -> float:
        return 1.0 / (1.0 + math.exp(-((th_micro - b_micro) / 1e6)))

    def half_up_signed(a: int, b: int) -> int:
        m = (2 * abs(a) + b) // (2 * b)
        return m if a >= 0 else -m

    def clamp(v: int, lim: int) -> int:
        return max(-lim, min(lim, v))

    th = [0] * _IRT_NU
    b = [0] * len(etypes)
    def q6(x: float) -> int:
        """round(1e6·x) half-away for non-negative x — the per-cell
        quantum, matching DuckDB round() on the same product."""
        return int(math.floor(1000000.0 * x + 0.5))

    for _ in range(_IRT_ITERS):
        # θ update — per-cell terms quantized to micro-integers BEFORE
        # summing (ADVICE r9 #2): num = 1e6·Σs − Σ round(1e6·n·sg) and
        # den = Σ round(1e6·n·sg·(1−sg)) are exact associative integer
        # sums, so driver fold order vs DuckDB aggregation order can't
        # diverge on rounding ties.
        num = [0] * _IRT_NU
        den = [0] * _IRT_NU
        for u, i, n, s in cells:
            sg = sig(th[u], b[i])
            num[u] += 1000000 * s - q6(n * sg)
            den[u] += q6(n * sg * (1.0 - sg))
        for u in range(_IRT_NU):
            d6 = max(den[u], 1)
            th[u] = clamp(
                th[u]
                + clamp(half_up_signed(num[u] * 1000000, d6), _IRT_CLAMP),
                _IRT_RANGE,
            )
        # b update — same per-cell integer quantization
        numb = [0] * len(etypes)
        denb = [0] * len(etypes)
        for u, i, n, s in cells:
            sg = sig(th[u], b[i])
            numb[i] += 1000000 * s - q6(n * sg)
            denb[i] += q6(n * sg * (1.0 - sg))
        for i in range(len(etypes)):
            d6 = max(denb[i], 1)
            b[i] = clamp(
                b[i]
                - clamp(half_up_signed(numb[i] * 1000000, d6), _IRT_CLAMP),
                _IRT_RANGE,
            )
        m = half_up_signed(sum(b), len(b))
        b = [x - m for x in b]
    istat = {}
    for u, i, n, s in cells:
        t = istat.setdefault(i, [0, 0])
        t[0] += n
        t[1] += s
    rows = [
        (
            etypes[i],
            b[i],
            istat[i][1],
            istat[i][0],
        )
        for i in range(len(etypes))
    ]
    out = local_frame(
        spark, rows, "event_type string, b_micro long, s long, n long"
    )
    return out.select(
        "event_type",
        (F.col("b_micro") / F.lit(1000000.0)).alias("difficulty"),
        (
            _half_up_col("1000000 * s", "n") / F.lit(1000000.0)
        ).alias("p_emp"),
        F.col("n").cast("long").alias("n_trials"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X709 — sampled-reference MBR (the production twin of X682)
# ---------------------------------------------------------------------------

from ..functions import text as _text  # noqa: E402
from .round9b import _MBR_MOD, _MICRO  # noqa: E402

_MBRS_K = 8  # reference-panel size per prompt

_MBRS_PANEL_SQL = f"""
    cand AS (
      SELECT doc_id, doc_id % {_MBR_MOD} AS prompt_id,
             list_distinct({_text.tokens_sql('text')}) AS ts,
             {token_hash_sql("CAST(doc_id AS VARCHAR)")} AS hid
      FROM documents),
    panel AS (
      SELECT prompt_id, doc_id AS ref_id, ts AS ref_ts
      FROM (SELECT prompt_id, doc_id, ts,
                   row_number() OVER (PARTITION BY prompt_id
                                      ORDER BY hid, doc_id) AS rn
            FROM cand)
      WHERE rn <= {_MBRS_K})"""

_MBRS_ORACLE = f"""
    WITH {_MBRS_PANEL_SQL},
    pair AS (
      SELECT a.prompt_id, a.doc_id,
             {_half_up_sql(
                 f'{_MICRO} * len(list_intersect(a.ts, p.ref_ts))',
                 'len(list_distinct(list_concat(a.ts, p.ref_ts)))')} AS j6
      FROM cand a JOIN panel p
        ON p.prompt_id = a.prompt_id AND p.ref_id <> a.doc_id),
    sc AS (
      SELECT prompt_id, doc_id,
             {_half_up_sql('sum(j6)', 'count(*)')} AS s_micro
      FROM pair GROUP BY prompt_id, doc_id),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                 ORDER BY s_micro DESC, doc_id) AS rn
      FROM sc)
    SELECT CAST(prompt_id AS BIGINT) AS prompt_id, doc_id,
           s_micro / 1000000.0 AS mbr_score
    FROM r WHERE rn = 1 ORDER BY prompt_id
    """


def _mbr_panel(spark: SparkSession, sf_dir: str):
    cand = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _MBR_MOD).alias("prompt_id"),
        F.array_distinct(_text.tokens(F.col("text"))).alias("ts"),
        token_hash(F.col("doc_id").cast("string")).alias("hid"),
    )
    wp = W.partitionBy("prompt_id").orderBy("hid", "doc_id")
    panel = (
        cand.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _MBRS_K)
        .select(
            "prompt_id",
            F.col("doc_id").alias("ref_id"),
            F.col("ts").alias("ref_ts"),
        )
    )
    return cand, panel


@query("q_mbr_select_sampled", oracle=_MBRS_ORACLE)
def q_mbr_select_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X709 — sampled-reference MBR (the Bertsch et al. / Cheng &
    Sennrich approximation; X682's production twin, the X647/X680
    twin policy): the consensus utility is estimated against a FIXED
    hash-chosen panel of {_MBRS_K} references per prompt instead of
    all n candidates, dropping the per-prompt cost from n² to n·k —
    the standard fix when the sampler's n must grow (the probe axis
    that puts exact MBR at exp 0.90). Panel choice is deterministic
    (md5 order on doc_id), so both engines and any replay pick the
    same panel.

    Scale: pairs per prompt = n·k with constant k — corpus-linear;
    same integer micro-unit discipline as X682."""
    cand, panel = _mbr_panel(spark, sf_dir)
    pair = (
        cand.join(panel, "prompt_id")
        .filter(F.col("ref_id") != F.col("doc_id"))
        .select(
            "prompt_id",
            "doc_id",
            F.size(F.array_intersect(F.col("ts"), F.col("ref_ts"))).alias(
                "ii"
            ),
            F.size(F.array_union(F.col("ts"), F.col("ref_ts"))).alias("uu"),
        )
        .select(
            "prompt_id",
            "doc_id",
            _half_up_col(f"{_MICRO} * ii", "uu").alias("j6"),
        )
    )
    sc = pair.groupBy("prompt_id", "doc_id").agg(
        _half_up_col("sum(j6)", "count(*)").alias("s_micro")
    )
    wr = W.partitionBy("prompt_id").orderBy(F.desc("s_micro"), "doc_id")
    return (
        sc.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("prompt_id").cast("long").alias("prompt_id"),
            "doc_id",
            (F.col("s_micro") / F.lit(1000000.0)).alias("mbr_score"),
        )
        .orderBy("prompt_id")
    )


# ---------------------------------------------------------------------------
# X710 — sampled-reference self-BLEU (the production twin of X699)
# ---------------------------------------------------------------------------

from .round9b import _SB_NANO, _wgrams_sql  # noqa: E402

_SBS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {_MBR_MOD} AS prompt_id,
             {_text.tokens_sql('text')} AS t,
             {token_hash_sql("CAST(doc_id AS VARCHAR)")} AS hid
      FROM documents),
    panel AS (
      SELECT prompt_id, doc_id AS ri
      FROM (SELECT prompt_id, doc_id,
                   row_number() OVER (PARTITION BY prompt_id
                                      ORDER BY hid, doc_id) AS rn
            FROM toks)
      WHERE rn <= {_MBRS_K}),
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
      SELECT a.prompt_id, a.doc_id AS ci, p.ri
      FROM toks a JOIN panel p
        ON p.prompt_id = a.prompt_id AND p.ri <> a.doc_id),
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


@query("q_self_bleu_sampled", oracle=_SBS_ORACLE)
def q_self_bleu_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X710 — sampled-reference self-BLEU (X699's production twin,
    same panel as X709): each candidate's diversity is scored against
    the fixed {_MBRS_K}-reference hash panel instead of every other
    candidate — n·k pairs per prompt instead of n², closing the
    probe's exp-1.35 row the way X647/X680 closed theirs. Identical
    BLEU-2 arithmetic (clipped precisions, brevity penalty, √(p1·p2)
    form) and integer quantization as the exact form, which stays
    registered as the correctness instance.

    Scale: corpus-linear pair count; gram joins keyed by
    (doc, n, gram)."""
    # fan the single-split scan out and materialize the token arrays
    # once — toks feeds the panel pick, both gram tables and the pair
    # sides (guide §2.4/§2.6; the q_self_bleu fix applied to its twin)
    from ..session import default_parallelism

    toks = (
        load(spark, sf_dir, "documents")
        .repartition(default_parallelism())
        .select(
            "doc_id",
            (F.col("doc_id") % _MBR_MOD).alias("prompt_id"),
            _text.tokens(F.col("text")).alias("t"),
            token_hash(F.col("doc_id").cast("string")).alias("hid"),
        )
        .localCheckpoint(eager=True)
    )
    wp = W.partitionBy("prompt_id").orderBy("hid", "doc_id")
    panel = (
        toks.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _MBRS_K)
        .select("prompt_id", F.col("doc_id").alias("ri"))
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
    grams = (
        uni.unionAll(bi)
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = grams.groupBy("doc_id", "n").agg(F.sum("c").alias("tc"))
    lens = toks.select("doc_id", F.size("t").cast("long").alias("lw"))
    pairs = (
        toks.select("prompt_id", F.col("doc_id").alias("ci"))
        .join(panel, "prompt_id")
        .filter(F.col("ci") != F.col("ri"))
    )
    ov = (
        pairs.join(
            grams.select(
                F.col("doc_id").alias("ci"), "n", "g", F.col("c").alias("cc")
            ),
            "ci",
        )
        .join(
            grams.select(
                F.col("doc_id").alias("ri"), "n", "g", F.col("c").alias("cr")
            ),
            ["ri", "n", "g"],
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
