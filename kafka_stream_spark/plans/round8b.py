"""Round-8 batch 2 (X624+): generation-eval metrics and RLHF data ops.

Reference scope note: the reference pipeline (kafka_s.py) has no eval
or preference-data surface; these are §2.13 LLM-data-pipeline mandate
components, reference-free by design.

- X624 q_bleu: corpus-level BLEU-4 (Papineni et al. 2002) — clipped
  modified n-gram precision for n=1..4 plus the brevity penalty,
  candidate/reference pairs drawn deterministically from adjacent
  documents within a language.
- X625 q_rouge_n: ROUGE-1/ROUGE-2 recall/precision/F1 (Lin 2004),
  per-pair rounded then averaged per language.
- X626 q_grpo_advantage: group-relative advantage normalization
  (the GRPO data transform: z-score rewards within a prompt group,
  keep the top samples) over the event stream.
- X627 q_best_of_n: rejection-sampling curation (best-of-n): per
  prompt group keep the argmax-reward sample when it clears the
  corpus-level reward bar, with the selection margin over the
  runner-up.

Scale notes: the metric pair is one explode→count→join per n-gram
order (map-side combinable counts, the join keyed by (pair, gram) —
never full texts); the RLHF pair is a single groupBy each plus a
broadcast scalar. All rankings order on ROUNDED scores so float ULPs
cannot flip ranks between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import hashing, text, vectors
from ..session import default_parallelism
from ..sources.tables import load
from ..streaming.pipeline import Cells, StoreSpec
from .registry import query

# ---------------------------------------------------------------------------
# shared: candidate/reference pairs + n-gram machinery (no short-doc
# fallback — BLEU/ROUGE define zero n-grams for docs shorter than n)
# ---------------------------------------------------------------------------


def _ngrams(toks, n: int):
    if n == 1:
        return toks
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), gram),
    ).otherwise(F.array().cast("array<string>"))


def _ngrams_sql(toks: str, n: int) -> str:
    if n == 1:
        return toks
    parts = " || ' ' || ".join(f"{toks}[i + {k + 1}]" for k in range(n))
    return (
        f"(CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(len({toks}) - {n - 1}), i -> {parts}) "
        f"ELSE [] END)"
    )


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pid, ct, rt): candidate = each doc, reference = the next doc
    in the same language by doc_id (a deterministic, SF-invariant
    pairing; the metric mechanics are the component under test)."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("doc_id")
    base = d.select(
        "lang",
        F.col("doc_id").alias("pid"),
        "text",
        F.lead("text").over(w).alias("ref"),
    ).filter(F.col("ref").isNotNull())
    return base.select(
        "lang",
        "pid",
        text.tokens(F.col("text")).alias("ct"),
        text.tokens(F.col("ref")).alias("rt"),
    )


_PAIRS_SQL = f"""
    base AS (
      SELECT lang, doc_id AS pid, text,
             lead(text) OVER (PARTITION BY lang ORDER BY doc_id) AS ref
      FROM documents),
    pairs AS (
      SELECT lang, pid,
             {text.tokens_sql("text")} AS ct,
             {text.tokens_sql("ref")} AS rt
      FROM base WHERE ref IS NOT NULL)"""


def _clip_counts(pairs: DataFrame, n: int) -> DataFrame:
    """Per n: one row (n, clip, tot) — clipped matches and candidate
    n-gram total, the two BLEU ingredients."""
    cg = (
        pairs.select("pid", F.explode(_ngrams(F.col("ct"), n)).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("c"))
    )
    rg = (
        pairs.select("pid", F.explode(_ngrams(F.col("rt"), n)).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("r"))
    )
    j = cg.join(rg, ["pid", "g"], "left")
    return j.agg(
        F.lit(n).alias("n"),
        F.sum(F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0)))).alias(
            "clip"
        ),
        F.sum("c").alias("tot"),
    )


def _clip_sql(n: int) -> str:
    return f"""
    cg{n} AS (
      SELECT pid, g, count(*) AS c FROM (
        SELECT pid, unnest({_ngrams_sql("ct", n)}) AS g FROM pairs)
      GROUP BY pid, g),
    rg{n} AS (
      SELECT pid, g, count(*) AS r FROM (
        SELECT pid, unnest({_ngrams_sql("rt", n)}) AS g FROM pairs)
      GROUP BY pid, g),
    clip{n} AS (
      SELECT sum(least(c.c, coalesce(r.r, 0))) AS clip, sum(c.c) AS tot
      FROM cg{n} c LEFT JOIN rg{n} r ON c.pid = r.pid AND c.g = r.g)"""


# ---------------------------------------------------------------------------
# X624 — corpus BLEU-4
# ---------------------------------------------------------------------------


@query(
    "q_bleu",
    oracle=f"""
    WITH {_PAIRS_SQL},
    {",".join(_clip_sql(n).lstrip() for n in (1, 2, 3, 4))},
    lens AS (
      SELECT CAST(sum(len(ct)) AS BIGINT) AS c_len,
             CAST(sum(len(rt)) AS BIGINT) AS r_len
      FROM pairs),
    ps AS (
      SELECT greatest(round(c1.clip * 1.0 / c1.tot, 10), 1e-12) AS p1,
             greatest(round(c2.clip * 1.0 / c2.tot, 10), 1e-12) AS p2,
             greatest(round(c3.clip * 1.0 / c3.tot, 10), 1e-12) AS p3,
             greatest(round(c4.clip * 1.0 / c4.tot, 10), 1e-12) AS p4
      FROM clip1 c1, clip2 c2, clip3 c3, clip4 c4)
    SELECT lens.c_len, lens.r_len,
           round(ps.p1, 6) AS p1, round(ps.p2, 6) AS p2,
           round(ps.p3, 6) AS p3, round(ps.p4, 6) AS p4,
           round(CASE WHEN lens.c_len > lens.r_len THEN 1.0
                      ELSE exp(1.0 - lens.r_len * 1.0 / lens.c_len) END,
                 6) AS bp,
           round(round(CASE WHEN lens.c_len > lens.r_len THEN 1.0
                      ELSE exp(1.0 - lens.r_len * 1.0 / lens.c_len) END, 10)
                 * exp(0.25 * (ln(ps.p1) + ln(ps.p2) + ln(ps.p3) + ln(ps.p4))),
                 6) AS bleu
    FROM lens, ps
    """,
)
def q_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X624 — corpus-level BLEU-4 with brevity penalty (Papineni et
    al. 2002): clipped modified n-gram precision per order, combined
    geometrically. One row: corpus lengths, p1..p4 (rounded to 10
    before the log so both engines exponentiate identical doubles),
    bp, bleu.

    Scale shape: per order one explode → (pid, gram) count (map-side
    combinable) → key-local left join → scalar sums. Nothing holds
    full texts past the tokenize; corpus-level reduction is 4 scalar
    rows. At 100 TB the (pid, gram) shuffle is the cost — bounded by
    token volume, the same as any word-count."""
    pairs = _pairs(spark, sf_dir)
    stats = (
        _clip_counts(pairs, 1)
        .unionByName(_clip_counts(pairs, 2))
        .unionByName(_clip_counts(pairs, 3))
        .unionByName(_clip_counts(pairs, 4))
    )
    ps = stats.agg(
        *[
            F.greatest(
                F.round(
                    F.sum(F.when(F.col("n") == n, F.col("clip")))
                    / F.sum(F.when(F.col("n") == n, F.col("tot"))),
                    10,
                ),
                F.lit(1e-12),
            ).alias(f"p{n}")
            for n in (1, 2, 3, 4)
        ]
    )
    lens = pairs.agg(
        F.sum(F.size("ct")).cast("long").alias("c_len"),
        F.sum(F.size("rt")).cast("long").alias("r_len"),
    )
    bp = F.round(
        F.when(F.col("c_len") > F.col("r_len"), F.lit(1.0)).otherwise(
            F.exp(F.lit(1.0) - F.col("r_len") / F.col("c_len"))
        ),
        10,
    )
    # left-fold ln(p1)..ln(p4) in oracle order — float addition is
    # non-associative, so both engines must add in the same association
    # (ADVICE r8: the old p1+((p2+p3)+p4) grouping risked ULP drift)
    logsum = F.log(F.col("p1"))
    for n in (2, 3, 4):
        logsum = logsum + F.log(F.col(f"p{n}"))
    return lens.crossJoin(ps).select(
        "c_len",
        "r_len",
        *[F.round(f"p{n}", 6).alias(f"p{n}") for n in (1, 2, 3, 4)],
        F.round(bp, 6).alias("bp"),
        F.round(bp * F.exp(F.lit(0.25) * logsum), 6).alias("bleu"),
    )


# ---------------------------------------------------------------------------
# X625 — ROUGE-1 / ROUGE-2 per-language averages
# ---------------------------------------------------------------------------


def _rouge_pair(pairs: DataFrame, n: int) -> DataFrame:
    """(lang, pid, rec, prec, f) per pair for order n — per-pair
    values rounded to 10 before the per-language average."""
    cg = (
        pairs.select("lang", "pid", F.explode(_ngrams(F.col("ct"), n)).alias("g"))
        .groupBy("lang", "pid", "g")
        .agg(F.count("*").alias("c"))
    )
    rg = (
        pairs.select("pid", F.explode(_ngrams(F.col("rt"), n)).alias("g"))
        .groupBy("pid", "g")
        .agg(F.count("*").alias("r"))
    )
    j = cg.join(rg, ["pid", "g"], "full").withColumn(
        "ov", F.least(F.coalesce("c", F.lit(0)), F.coalesce("r", F.lit(0)))
    )
    per = j.groupBy("pid").agg(
        F.any_value("lang", True).alias("lang"),
        F.sum("ov").alias("ov"),
        F.sum("c").alias("ctot"),
        F.sum("r").alias("rtot"),
    )
    rec = F.round(F.col("ov") / F.greatest("rtot", F.lit(1)), 10)
    prec = F.round(F.col("ov") / F.greatest("ctot", F.lit(1)), 10)
    f1 = F.round(
        F.when(
            rec + prec > 0, F.lit(2.0) * rec * prec / (rec + prec)
        ).otherwise(F.lit(0.0)),
        10,
    )
    return per.select(
        "lang", "pid", rec.alias("rec"), prec.alias("prec"), f1.alias("f")
    )


def _rouge_sql(n: int) -> str:
    rec = "round(ov * 1.0 / greatest(rtot, 1), 10)"
    prec = "round(ov * 1.0 / greatest(ctot, 1), 10)"
    return f"""
    rcg{n} AS (
      SELECT lang, pid, g, count(*) AS c FROM (
        SELECT lang, pid, unnest({_ngrams_sql("ct", n)}) AS g FROM pairs)
      GROUP BY lang, pid, g),
    rrg{n} AS (
      SELECT pid, g, count(*) AS r FROM (
        SELECT pid, unnest({_ngrams_sql("rt", n)}) AS g FROM pairs)
      GROUP BY pid, g),
    rj{n} AS (
      SELECT coalesce(c.pid, r.pid) AS pid, any_value(c.lang) AS lang,
             sum(least(coalesce(c.c, 0), coalesce(r.r, 0))) AS ov,
             sum(c.c) AS ctot, sum(r.r) AS rtot
      FROM rcg{n} c FULL JOIN rrg{n} r ON c.pid = r.pid AND c.g = r.g
      GROUP BY 1),
    rp{n} AS (
      SELECT lang, pid, {rec} AS rec, {prec} AS prec,
             round(CASE WHEN {rec} + {prec} > 0
                   THEN 2.0 * {rec} * {prec} / ({rec} + {prec})
                   ELSE 0.0 END, 10) AS f
      FROM rj{n})"""


@query(
    "q_rouge_n",
    oracle=f"""
    WITH {_PAIRS_SQL},
    {",".join(_rouge_sql(n).lstrip() for n in (1, 2))}
    SELECT p1.lang, CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(p1.rec), 6) AS r1_recall,
           round(avg(p1.prec), 6) AS r1_precision,
           round(avg(p1.f), 6) AS r1_f,
           round(avg(p2.rec), 6) AS r2_recall,
           round(avg(p2.f), 6) AS r2_f
    FROM rp1 p1 JOIN rp2 p2 ON p1.pid = p2.pid
    GROUP BY p1.lang ORDER BY p1.lang
    """,
)
def q_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X625 — ROUGE-1/ROUGE-2 (Lin 2004): per-pair clipped-overlap
    recall/precision/F1 rounded to 10, averaged per language. The
    full outer join keeps reference-only grams in the recall
    denominator (any_value(lang) rides the candidate side, so the
    ignore-nulls form is used on both engines).

    Scale: same (pid, gram) count-join shape as q_bleu; the per-pair
    reduce is keyed by pid (no global state) and the language rollup
    touches one row per pair."""
    pairs = _pairs(spark, sf_dir)
    p1 = _rouge_pair(pairs, 1)
    p2 = _rouge_pair(pairs, 2).select(
        "pid",
        F.col("rec").alias("rec2"),
        F.col("f").alias("f2"),
    )
    j = p1.join(p2, "pid")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("rec"), 6).alias("r1_recall"),
            F.round(F.avg("prec"), 6).alias("r1_precision"),
            F.round(F.avg("f"), 6).alias("r1_f"),
            F.round(F.avg("rec2"), 6).alias("r2_recall"),
            F.round(F.avg("f2"), 6).alias("r2_f"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X626 — GRPO group-relative advantage
# ---------------------------------------------------------------------------


@query(
    "q_grpo_advantage",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, value,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT user_id, sum(cents) AS s1c, sum(cents * cents) AS s2c,
             count(*) AS n
      FROM c GROUP BY user_id HAVING count(*) >= 4),
    a AS (
      SELECT e.user_id, e.event_id, e.value AS reward,
             round((e.value - g.s1c / (100.0 * g.n))
                   / sqrt(greatest(g.s2c / (10000.0 * g.n)
                                   - (g.s1c / (100.0 * g.n))
                                     * (g.s1c / (100.0 * g.n)),
                                   1e-12)), 6) AS adv
      FROM c e JOIN g ON e.user_id = g.user_id),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY adv DESC, event_id) AS rnk
      FROM a)
    SELECT user_id, event_id, reward, adv, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 2 ORDER BY user_id, rnk
    """,
)
def q_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X626 — group-relative advantage (the GRPO reward transform,
    Shao et al. 2024): within each prompt group (user_id here) rewards
    are z-scored against the group's own mean/std — no learned value
    baseline — and the top-2 samples per group are kept. Moments are
    EXACT INTEGERS (reward cents — the data is 2-decimal): integer
    sums are associative, so any partial-sum grouping (engine, shuffle
    plan, or the incremental streaming store) yields bit-identical
    moments — incremental == batch by construction, not by tolerance.
    The variance floor guards constant-reward groups; ranking is on
    the ROUNDED advantage. (At extreme group sizes the squared-cents
    sum approaches int64 range — a DECIMAL(38) upgrade, not a design
    change; RLHF groups are small by construction.)

    Scale: one map-side-combinable groupBy for the moments, a
    key-local join back, one per-group window — the canonical
    two-pass normalize. 100 TB: groups are independent, skew bounded
    by samples-per-prompt (small by construction in RLHF data)."""
    return GRPO_MOMENTS.batch(spark, sf_dir)


def grpo_moments(e: DataFrame) -> DataFrame:
    """Events → per-group (user_id, s1c, s2c, n) reward moments in
    exact integer cents."""
    cents = e.withColumn("cents", F.round(F.col("value") * 100).cast("long"))
    return cents.groupBy("user_id").agg(
        F.sum("cents").alias("s1c"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2c"),
        F.count("*").alias("n"),
    )


def grpo_from_moments(events: DataFrame, moments: DataFrame) -> DataFrame:
    """(events, moments) → the q_grpo_advantage output: n >= 4 gate,
    variance floor, rounded advantage, top-2 per group on the rounded
    value."""
    g = moments.filter(F.col("n") >= 4)
    mean = F.col("s1c") / (100.0 * F.col("n"))
    var = F.greatest(
        F.col("s2c") / (10000.0 * F.col("n")) - mean * mean, F.lit(1e-12)
    )
    a = events.join(g, "user_id").select(
        "user_id",
        "event_id",
        F.col("value").alias("reward"),
        F.round((F.col("value") - mean) / F.sqrt(var), 6).alias("adv"),
    )
    w = W.partitionBy("user_id").orderBy(F.desc("adv"), "event_id")
    return (
        a.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .orderBy("user_id", "rnk")
    )


#: X645 — streaming GRPO normalization state: integer-cents moments are
#: associative, so the store's moments equal the batch's bit for bit
GRPO_MOMENTS = StoreSpec(
    "events",
    (Cells("moments", ("user_id",), grpo_moments),),
    grpo_from_moments,
    reads_source=True,
)


# ---------------------------------------------------------------------------
# X627 — best-of-n rejection sampling
# ---------------------------------------------------------------------------


@query(
    "q_best_of_n",
    oracle="""
    WITH bar AS (
      SELECT sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(*))
               AS m
      FROM events),
    r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events),
    top2 AS (
      SELECT user_id, any_value(n) AS n,
             max(CASE WHEN rn = 1 THEN event_id END) AS event_id,
             max(CASE WHEN rn = 1 THEN value END) AS best,
             max(CASE WHEN rn = 2 THEN value END) AS second
      FROM r WHERE rn <= 2 GROUP BY user_id)
    SELECT t.user_id, t.event_id, round(t.best, 6) AS best_reward,
           CAST(t.n AS BIGINT) AS n_samples,
           round(t.best - t.second, 6) AS margin
    FROM top2 t, bar
    WHERE t.n >= 3 AND t.best >= bar.m
    ORDER BY t.user_id
    """,
)
def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X627 — best-of-n rejection sampling (the SFT-data curation
    step behind RAFT/RSO): per prompt group keep the argmax-reward
    sample, but only when it clears the corpus-level reward bar
    (global mean — a scalar broadcast), and report the selection
    margin over the runner-up (the confidence signal downstream
    filtering thresholds on).

    Scale: one per-group window (rank over samples-per-prompt, small
    by construction), one scalar aggregate joined as a broadcast —
    no global sort, no driver loop."""
    return BEST_OF_N.batch(spark, sf_dir)


def best_of_n_top2(e: DataFrame) -> DataFrame:
    """Events → per-group top-2 (v1, e1, v2, e2) by (value DESC,
    event_id) plus the sample count n."""
    w = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_b", F.count("*").over(W.partitionBy("user_id")))
        .filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("v1"),
            F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias("e1"),
            F.max(F.when(F.col("rn") == 2, F.col("value"))).alias("v2"),
            F.max(F.when(F.col("rn") == 2, F.col("event_id"))).alias("e2"),
            F.any_value("n_b").alias("n"),
        )
    )


def top2_merge(existing: DataFrame, part: DataFrame) -> DataFrame:
    """RANK-merge of two top-2 cell tables: explode both sides'
    candidates, re-rank to the top-2 of the union, add the counts.
    A semilattice merge on ORDER (max is associative and idempotent
    per candidate), so no arithmetic can drift with fold order —
    doubles are compared, never summed."""

    def cands(df: DataFrame) -> DataFrame:
        one = df.select(
            "user_id", F.col("v1").alias("v"), F.col("e1").alias("e")
        )
        two = df.filter(F.col("v2").isNotNull()).select(
            "user_id", F.col("v2").alias("v"), F.col("e2").alias("e")
        )
        return one.unionByName(two)

    ns = (
        existing.select("user_id", "n")
        .unionByName(part.select("user_id", "n"))
        .groupBy("user_id")
        .agg(F.sum("n").alias("n"))
    )
    w = W.partitionBy("user_id").orderBy(F.desc("v"), "e")
    ranked = (
        cands(existing)
        .unionByName(cands(part))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    wide = ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("rn") == 1, F.col("e"))).alias("e1"),
        F.max(F.when(F.col("rn") == 2, F.col("v"))).alias("v2"),
        F.max(F.when(F.col("rn") == 2, F.col("e"))).alias("e2"),
    )
    return wide.join(ns, "user_id")


def reward_bar(e: DataFrame) -> DataFrame:
    """Events → the corpus reward bar's (s1c, n) in exact integer
    cents, one row keyed k = 0."""
    return e.groupBy(F.lit(0).alias("k")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s1c"),
        F.count("*").alias("n"),
    )


def best_of_n_select(top2: DataFrame, bar: DataFrame) -> DataFrame:
    """(top-2 cells, bar cells) → the q_best_of_n output: n >= 3 gate,
    the integer-cents bar, rounded margin over the runner-up."""
    m = bar.select((F.col("s1c") / (100.0 * F.col("n"))).alias("m"))
    return (
        top2.crossJoin(F.broadcast(m))
        .filter((F.col("n") >= 3) & (F.col("v1") >= F.col("m")))
        .select(
            "user_id",
            F.col("e1").alias("event_id"),
            F.round("v1", 6).alias("best_reward"),
            F.col("n").cast("long").alias("n_samples"),
            F.round(F.col("v1") - F.col("v2"), 6).alias("margin"),
        )
        .orderBy("user_id")
    )


#: X645b — streaming best-of-n: a top-2 RANK-merge cell table plus an
#: additive integer-cents bar, each committed with its own replay guard
BEST_OF_N = StoreSpec(
    "events",
    (
        Cells("top2", ("user_id",), best_of_n_top2, top2_merge),
        Cells("bar", ("k",), reward_bar),
    ),
    best_of_n_select,
)


# ---------------------------------------------------------------------------
# X628 — winnowing fingerprints (MOSS local document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_K = 5  # char k-gram length
_WINNOW_W = 4  # window of consecutive k-gram hashes
_WINNOW_T = 8  # min shared fingerprints to report a candidate pair
_WINNOW_DF = 50  # drop fingerprints present in more docs (MOSS rule)


@query(
    "q_winnow_fingerprints",
    oracle=f"""
    WITH kg AS (
      SELECT doc_id, p + 1 AS pos,
             {hashing.token_hash_sql(f"substr(text, p + 1, {_WINNOW_K})")} AS h
      FROM (SELECT doc_id, text, unnest(range(length(text) - {_WINNOW_K - 1})) AS p
            FROM documents)),
    win AS (
      SELECT k.doc_id, j.j, k.h, k.pos,
             row_number() OVER (PARTITION BY k.doc_id, j.j
                                ORDER BY k.h ASC, k.pos DESC) AS rn
      FROM kg k JOIN (
        SELECT doc_id, unnest(range(1, CAST(max(pos) AS BIGINT) - {_WINNOW_W - 2})) AS j
        FROM kg GROUP BY doc_id) j
        ON k.doc_id = j.doc_id AND k.pos BETWEEN j.j AND j.j + {_WINNOW_W - 1}),
    fp0 AS (
      SELECT DISTINCT doc_id, h FROM win WHERE rn = 1),
    fp AS (
      SELECT doc_id, h FROM fp0
      QUALIFY count(*) OVER (PARTITION BY h) <= {_WINNOW_DF}),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared FROM pr
    WHERE n_shared >= {_WINNOW_T}
    ORDER BY doc_a, doc_b
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X628 — winnowing (Schleimer-Wilkerson-Aiken 2003, the MOSS
    fingerprinting scheme): hash every char 5-gram, slide a window of
    4 consecutive hashes, keep the window minimum (rightmost on ties
    — the left-to-right fold's natural argmin), and report document
    pairs sharing >= 8 distinct fingerprints. Winnowing's guarantee:
    any shared substring of length >= k + w - 1 yields at least one
    shared fingerprint, at ~2/(w+1) the density of full k-gram
    hashing.

    Scale shape: fingerprints are selected in ONE map-side array pass
    per document (no position explosion — the fold walks slices of
    the hash array), the candidate join shuffles only (hash, doc_id)
    pairs at winnowed density, and the pair count is a groupBy. This
    is the same banded-candidate discipline as MinHash-LSH with a
    locality guarantee instead of a probabilistic one."""
    # the per-position hash + w-slice folds below are the query's whole
    # cost and run row-at-a-time over a single-split scan — fan out so
    # every core folds its share (guide §2.6; same idiom as llm_ext._docs)
    d = load(spark, sf_dir, "documents").repartition(default_parallelism())
    arr = F.transform(
        F.sequence(F.lit(1), F.length("text") - (_WINNOW_K - 1)),
        lambda p: F.struct(
            hashing.token_hash(F.substring(F.col("text"), p, _WINNOW_K)).alias(
                "h"
            ),
            p.alias("pos"),
        ),
    )
    # fold each w-slice left->right; <= keeps the RIGHTMOST minimum
    fps = F.transform(
        F.sequence(F.lit(1), F.size(F.col("arr")) - (_WINNOW_W - 1)),
        lambda j: F.aggregate(
            F.slice(F.col("arr"), j + 1, _WINNOW_W - 1),
            F.element_at(F.col("arr"), j),
            lambda acc, x: F.when(x["h"] <= acc["h"], x).otherwise(acc),
        ),
    )
    fp0 = (
        d.select("doc_id", arr.alias("arr"))
        .select("doc_id", F.explode(fps).alias("f"))
        .select("doc_id", F.col("f.h").alias("h"))
        .distinct()
    )
    # MOSS's ubiquity rule: a fingerprint in more than _WINNOW_DF docs
    # identifies boilerplate, not copying — dropping it bounds every
    # posting list, which bounds the candidate join at any corpus size
    fp = fp0.withColumn(
        "df", F.count("*").over(W.partitionBy("h"))
    ).filter(F.col("df") <= _WINNOW_DF).drop("df")
    other = fp.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        fp.join(other, "h")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_T)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# X629 — content-defined chunking (Rabin-style boundaries) + chunk dedup
# ---------------------------------------------------------------------------

_CDC_D = 8  # boundary divisor: expected chunk length ~ D tokens


@query(
    "q_cdc_chunks",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, p AS pos,
             {hashing.token_hash_sql("t[p + 1]")} % {hashing.MERSENNE_P} AS h
      FROM (SELECT doc_id, source, {text.tokens_sql("text")} AS t,
                   unnest(range(len({text.tokens_sql("text")}))) AS p
            FROM documents)),
    rolled AS (
      SELECT doc_id, source, pos,
             (h + 31 * lag(h, 1, 0) OVER w + 961 * lag(h, 2, 0) OVER w)
               % {hashing.MERSENNE_P} AS hw,
             lag(h, 2) OVER w IS NOT NULL AS full_win
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    flagged AS (
      SELECT t.doc_id, t.source, t.pos,
             CASE WHEN r.full_win AND r.hw % {_CDC_D} = 0 THEN 1 ELSE 0 END
               AS boundary
      FROM tok t JOIN rolled r ON t.doc_id = r.doc_id AND t.pos = r.pos),
    chunked AS (
      SELECT f.doc_id, f.source, f.pos,
             coalesce(sum(f.boundary) OVER (PARTITION BY f.doc_id ORDER BY f.pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_idx
      FROM flagged f),
    chunks AS (
      SELECT c.doc_id, any_value(c.source) AS source, c.chunk_idx,
             count(*) AS n_toks,
             md5(string_agg(t2.tok, ' ' ORDER BY c.pos)) AS chash
      FROM chunked c JOIN (
        SELECT doc_id, p AS pos, t[p + 1] AS tok
        FROM (SELECT doc_id, {text.tokens_sql("text")} AS t,
                     unnest(range(len({text.tokens_sql("text")}))) AS p
              FROM documents)) t2
        ON c.doc_id = t2.doc_id AND c.pos = t2.pos
      GROUP BY c.doc_id, c.chunk_idx)
    SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chash) AS BIGINT) AS n_distinct,
           round(1.0 - count(DISTINCT chash) * 1.0 / count(*), 6)
             AS dup_ratio,
           round(avg(n_toks), 6) AS avg_chunk_toks
    FROM chunks GROUP BY source ORDER BY source
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X629 — content-defined chunking (the Rabin-fingerprint boundary
    rule LBFS/restic/borg dedup storage uses, token-grain here): a
    rolling hash of the last 3 token hashes declares a chunk boundary
    whenever hw % 8 == 0, so boundaries depend only on LOCAL content —
    insert a token and only the chunks around the edit change, which
    is the whole point vs fixed-size chunking. Chunks are then
    deduplicated globally by hash and the per-source dup ratio
    reported.

    Scale shape: tokenize + rolling hash are one window pass per doc
    (keyed by doc_id — no global state), chunk assembly is a
    (doc, chunk_idx) groupBy, and dedup is a count-distinct on 16-byte
    chunk hashes — never chunk texts — per source."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.posexplode(text.tokens(F.col("text"))).alias("pos", "tok"),
    ).withColumn(
        "h",
        hashing.token_hash(F.col("tok")) % hashing.MERSENNE_P,
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    rolled = tok.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        (
            (
                F.col("h")
                + 31 * F.lag("h", 1, 0).over(w)
                + 961 * F.lag("h", 2, 0).over(w)
            )
            % hashing.MERSENNE_P
        ).alias("hw"),
        F.lag("h", 2).over(w).isNotNull().alias("full_win"),
    )
    flagged = rolled.withColumn(
        "boundary",
        F.when(
            F.col("full_win") & (F.col("hw") % _CDC_D == 0), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    wcum = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("boundary").over(wcum), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.any_value("source").alias("source"),
        F.count("*").alias("n_toks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chash"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.countDistinct("chash").cast("long").alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct("chash") / F.count("*"), 6
            ).alias("dup_ratio"),
            F.round(F.avg("n_toks"), 6).alias("avg_chunk_toks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X630 — preference-transitivity audit (Condorcet cycle counting)
# ---------------------------------------------------------------------------


@query(
    "q_pref_transitivity",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             round(avg(value), 6) AS m
      FROM events GROUP BY 1, 2),
    types AS (SELECT DISTINCT event_type FROM daily),
    duel AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             sum(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS w_ab,
             sum(CASE WHEN b.m > a.m THEN 1 ELSE 0 END) AS w_ba
      FROM daily a JOIN daily b
        ON a.day = b.day AND a.event_type < b.event_type
      GROUP BY 1, 2),
    alledges AS (
      SELECT x.event_type AS ta, y.event_type AS tb,
             coalesce(d.w_ab, 0) AS w_ab, coalesce(d.w_ba, 0) AS w_ba
      FROM types x JOIN types y ON x.event_type < y.event_type
      LEFT JOIN duel d ON d.ta = x.event_type AND d.tb = y.event_type),
    edges AS (
      SELECT CASE WHEN w_ab >= w_ba THEN ta ELSE tb END AS win,
             CASE WHEN w_ab >= w_ba THEN tb ELSE ta END AS lose
      FROM alledges),
    cyc AS (
      SELECT count(*) AS n_cyclic
      FROM edges e1 JOIN edges e2 ON e2.win = e1.lose
      JOIN edges e3 ON e3.win = e2.lose AND e3.lose = e1.win
      WHERE e1.win < e1.lose AND e1.win < e2.lose),
    np AS (SELECT count(*) AS k FROM types)
    SELECT CAST(np.k AS BIGINT) AS n_players,
           CAST(np.k * (np.k - 1) * (np.k - 2) / 6 AS BIGINT) AS n_triples,
           CAST(cyc.n_cyclic AS BIGINT) AS n_cyclic,
           round(1.0 - cyc.n_cyclic * 1.0
                 / greatest(np.k * (np.k - 1) * (np.k - 2) / 6, 1), 6)
             AS transitivity
    FROM np, cyc
    """,
)
def q_pref_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X630 — preference-transitivity audit: build a round-robin
    tournament over event types (daily duels decided by the rounded
    daily mean reward; the pairwise edge goes to the type winning
    more days, ties to the lexicographically smaller — so the
    tournament is complete) and count Condorcet 3-cycles, the
    quantity reward-model training data is audited for before fitting
    Bradley-Terry (intransitive preference sets cap achievable
    pairwise accuracy). Each cycle is counted once by anchoring on
    its minimum vertex.

    Scale: duels aggregate per (day, type) — map-side combinable —
    and the cycle join runs on the TYPE tournament (vocabulary-sized,
    broadcast), never on raw events."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    types = daily.select("event_type").distinct()
    a = daily.select(
        "day", F.col("event_type").alias("ta"), F.col("m").alias("ma")
    )
    b = daily.select(
        "day", F.col("event_type").alias("tb"), F.col("m").alias("mb")
    )
    duel = (
        a.join(b, "day")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.when(F.col("ma") > F.col("mb"), 1).otherwise(0)).alias(
                "w_ab"
            ),
            F.sum(F.when(F.col("mb") > F.col("ma"), 1).otherwise(0)).alias(
                "w_ba"
            ),
        )
    )
    allpairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
        .join(duel, ["ta", "tb"], "left")
        .fillna(0, ["w_ab", "w_ba"])
    )
    edges = allpairs.select(
        F.when(F.col("w_ab") >= F.col("w_ba"), F.col("ta"))
        .otherwise(F.col("tb"))
        .alias("win"),
        F.when(F.col("w_ab") >= F.col("w_ba"), F.col("tb"))
        .otherwise(F.col("ta"))
        .alias("lose"),
    )
    e1 = edges.select(F.col("win").alias("w1"), F.col("lose").alias("l1"))
    e2 = edges.select(F.col("win").alias("w2"), F.col("lose").alias("l2"))
    e3 = edges.select(F.col("win").alias("w3"), F.col("lose").alias("l3"))
    cyc = (
        e1.join(e2, F.col("w2") == F.col("l1"))
        .join(
            e3,
            (F.col("w3") == F.col("l2")) & (F.col("l3") == F.col("w1")),
        )
        .filter((F.col("w1") < F.col("l1")) & (F.col("w1") < F.col("l2")))
        .agg(F.count("*").alias("n_cyclic"))
    )
    np_ = types.agg(F.count("*").alias("k"))
    tri = (
        F.col("k") * (F.col("k") - 1) * (F.col("k") - 2) / 2 / 3
    ).cast("long")
    return np_.crossJoin(cyc).select(
        F.col("k").cast("long").alias("n_players"),
        tri.alias("n_triples"),
        F.col("n_cyclic").cast("long").alias("n_cyclic"),
        F.round(
            1.0 - F.col("n_cyclic") / F.greatest(tri, F.lit(1)), 6
        ).alias("transitivity"),
    )


# ---------------------------------------------------------------------------
# X631 — margin-based bitext mining (ratio margin, mutual best match)
# ---------------------------------------------------------------------------

_MARGIN_NK = 4  # neighborhood depth for the margin denominator
_MARGIN_TAU = 1.02  # mining threshold


@query(
    "q_margin_mining",
    oracle=f"""
    WITH xs AS (
      SELECT vec_id AS x_id, embedding AS xe FROM embeddings
      WHERE label % 2 = 0),
    ys AS (
      SELECT vec_id AS y_id, embedding AS ye FROM embeddings
      WHERE label % 2 = 1),
    cs AS (
      SELECT x_id, y_id,
             round({vectors.cosine_sql("xe", "ye")}, 10) AS c
      FROM xs, ys),
    mx AS (
      SELECT x_id, round(avg(c), 10) AS mx FROM (
        SELECT x_id, c, row_number() OVER (PARTITION BY x_id
                 ORDER BY c DESC, y_id) AS rn FROM cs)
      WHERE rn <= {_MARGIN_NK} GROUP BY x_id),
    my AS (
      SELECT y_id, round(avg(c), 10) AS my FROM (
        SELECT y_id, c, row_number() OVER (PARTITION BY y_id
                 ORDER BY c DESC, x_id) AS rn FROM cs)
      WHERE rn <= {_MARGIN_NK} GROUP BY y_id),
    mg AS (
      SELECT cs.x_id, cs.y_id,
             round(cs.c / ((mx.mx + my.my) / 2), 6) AS margin
      FROM cs JOIN mx ON mx.x_id = cs.x_id
              JOIN my ON my.y_id = cs.y_id),
    bx AS (
      SELECT x_id, y_id, margin FROM (
        SELECT *, row_number() OVER (PARTITION BY x_id
                 ORDER BY margin DESC, y_id) AS rn FROM mg)
      WHERE rn = 1),
    by_ AS (
      SELECT x_id, y_id FROM (
        SELECT *, row_number() OVER (PARTITION BY y_id
                 ORDER BY margin DESC, x_id) AS rn FROM mg)
      WHERE rn = 1)
    SELECT bx.x_id, bx.y_id, bx.margin
    FROM bx JOIN by_ ON bx.x_id = by_.x_id AND bx.y_id = by_.y_id
    WHERE bx.margin >= {_MARGIN_TAU}
    ORDER BY bx.x_id
    """,
)
def q_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X631 — margin-based bitext mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER mining rule): candidate pairs across two embedding
    populations (label parity splits the corpus) are scored by the
    RATIO margin — cosine divided by the mean of both endpoints'
    top-4 neighborhood cosines — which cancels hubness: a vector
    whose neighborhood is uniformly close scores no pair highly.
    Mined pairs must be MUTUAL best matches above tau=1.02.

    Gate instance is exact all-pairs (the documented sf0.01 oracle
    policy for similarity ops); the production path routes candidates
    through operators/ann ivf_search exactly like q_hard_negatives —
    the margin denominator only needs each endpoint's local top-k,
    which IS the ANN result set. Rankings and the mutual-best rule
    use rounded cosines/margins with id tie-breaks, engine-stable."""
    emb = load(spark, sf_dir, "embeddings")
    xs = emb.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), F.col("embedding").alias("xe")
    )
    ys = emb.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), F.col("embedding").alias("ye")
    )
    # the cross-scored table feeds FOUR consumers (mx, my, and the
    # margin join's two sides); materialize it once — without this the
    # 64-dim cosine cross join is recomputed per consumer (measured
    # 23 s -> ~8 s at sf0.1)
    # parquet reads this small arrive in ONE partition; without an
    # explicit repartition the 1M-row cosine cross join runs as a
    # single task — spread the probe side across the cluster (sized by
    # the session's actual parallelism, not a baked-in local core count)
    cs = (
        xs.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(ys)
        .select(
            "x_id",
            "y_id",
            F.round(vectors.cosine("xe", "ye"), 10).alias(
                "c"
            ),
        )
        .localCheckpoint(eager=True)
    )
    wx = W.partitionBy("x_id").orderBy(F.desc("c"), "y_id")
    wy = W.partitionBy("y_id").orderBy(F.desc("c"), "x_id")
    mx = (
        cs.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= _MARGIN_NK)
        .groupBy("x_id")
        .agg(F.round(F.avg("c"), 10).alias("mx"))
    )
    my = (
        cs.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= _MARGIN_NK)
        .groupBy("y_id")
        .agg(F.round(F.avg("c"), 10).alias("my"))
    )
    mg = (
        cs.join(mx, "x_id")
        .join(my, "y_id")
        .select(
            "x_id",
            "y_id",
            F.round(
                F.col("c") / ((F.col("mx") + F.col("my")) / 2), 6
            ).alias("margin"),
        )
        .localCheckpoint(eager=True)
    )
    wmx = W.partitionBy("x_id").orderBy(F.desc("margin"), "y_id")
    wmy = W.partitionBy("y_id").orderBy(F.desc("margin"), "x_id")
    bx = (
        mg.withColumn("rn", F.row_number().over(wmx))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    by = (
        mg.withColumn("rn", F.row_number().over(wmy))
        .filter(F.col("rn") == 1)
        .select("x_id", "y_id")
    )
    return (
        bx.join(by, ["x_id", "y_id"])
        .filter(F.col("margin") >= _MARGIN_TAU)
        .select("x_id", "y_id", "margin")
        .orderBy("x_id")
    )


# ---------------------------------------------------------------------------
# X632 — memorization audit (per-generation duplication predictor)
# ---------------------------------------------------------------------------

_NOV_N = 8  # n-gram order for the novelty test


@query(
    "q_memorization_audit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {text.tokens_sql("text")} AS t FROM documents),
    gen AS (
      SELECT doc_id, unnest({_ngrams_sql("t", _NOV_N)}) AS g
      FROM toks WHERE doc_id % 97 = 3),
    corpus AS (
      SELECT g, count(*) AS dup FROM (
        SELECT unnest({_ngrams_sql("t", _NOV_N)}) AS g
        FROM toks WHERE doc_id % 97 <> 3)
      GROUP BY g),
    j AS (
      SELECT gen.doc_id, gen.g, corpus.dup
      FROM gen LEFT JOIN corpus ON corpus.g = gen.g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN dup IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN dup IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty,
           round(avg(coalesce(dup, 0)), 6) AS mean_dup
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_memorization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X632 — n-gram novelty / memorization audit (the Gopher /
    Carlini et al. check: duplication count in the training corpus is
    the strongest predictor of verbatim memorization): treat a
    deterministic doc subset (doc_id % 97 == 3) as generations and
    measure, per generation, the fraction of its 8-grams that never
    occur in the rest of the corpus (novelty) and the mean corpus
    duplication count of the rest — high mean_dup flags likely
    regurgitation, novelty ~1 flags genuinely fresh text.

    Scale: the corpus side is a (gram → count) aggregate — map-side
    combinable, exactly a word count at 8-gram grain; the audit join
    is keyed by gram hash. At 100 TB one would hash grams to 8 bytes
    first (the q_decontaminate trick); kept as raw strings here for
    oracle transparency."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", text.tokens(F.col("text")).alias("t"))
    gen = toks.filter(F.col("doc_id") % 97 == 3).select(
        "doc_id", F.explode(_ngrams(F.col("t"), _NOV_N)).alias("g")
    )
    corpus = (
        toks.filter(F.col("doc_id") % 97 != 3)
        .select(F.explode(_ngrams(F.col("t"), _NOV_N)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("dup"))
    )
    j = gen.join(corpus, "g", "left")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("dup").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("dup").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("novelty"),
            F.round(F.avg(F.coalesce("dup", F.lit(0))), 6).alias(
                "mean_dup"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# X633 — token-budget-constrained corpus selection
# ---------------------------------------------------------------------------

_BUDGET_FRAC = 0.25  # select until 25% of total corpus tokens


@query(
    "q_token_budget_select",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, len({text.tokens_sql("text")}) AS n_toks,
             round(len(list_distinct({text.tokens_sql("text")})) * 1.0
                   / greatest(len({text.tokens_sql("text")}), 1), 6)
               AS quality
      FROM documents),
    budget AS (
      SELECT CAST(floor(sum(n_toks) * {_BUDGET_FRAC}) AS BIGINT) AS b
      FROM scored),
    ranked AS (
      SELECT doc_id, n_toks, quality,
             sum(n_toks) OVER (ORDER BY quality DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum_toks
      FROM scored)
    SELECT r.doc_id, CAST(r.n_toks AS BIGINT) AS n_toks, r.quality,
           CAST(r.cum_toks AS BIGINT) AS cum_toks
    FROM ranked r, budget
    WHERE r.cum_toks <= budget.b
    ORDER BY r.quality DESC, r.doc_id
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X633 — token-budget-constrained corpus selection: greedily
    admit documents in quality order (type-token ratio as the quality
    proxy — any upstream score slots in) until the running token
    total hits the budget (25% of corpus tokens — fraction-based so
    the contract is SF-invariant). This is the final cut every
    budgeted pretraining run makes after scoring: the greedy
    quality-first fill.

    Scale: one global running sum over the quality order. At 100 TB
    the exact prefix is found in two passes without a global sort:
    histogram quality into bins, find the cut bin from bin token
    sums (broadcast), then only the cut bin needs exact ordering —
    the same two-pass trick as q_weighted_sample's quantile cut."""
    d = load(spark, sf_dir, "documents")
    t = text.tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.size(t).alias("n_toks"),
        F.round(
            F.size(F.array_distinct(t))
            / F.greatest(F.size(t), F.lit(1)),
            6,
        ).alias("quality"),
    )
    budget = scored.agg(
        F.floor(F.sum("n_toks") * _BUDGET_FRAC).cast("long").alias("b")
    )
    w = (
        W.orderBy(F.desc("quality"), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = scored.withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        ranked.crossJoin(budget)
        .filter(F.col("cum_toks") <= F.col("b"))
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            "quality",
            F.col("cum_toks").cast("long").alias("cum_toks"),
        )
        .orderBy(F.desc("quality"), "doc_id")
    )


# ---------------------------------------------------------------------------
# X634 — NMF topic model (Lee-Seung multiplicative updates, unrolled)
# ---------------------------------------------------------------------------

_NMF_K = 4  # topics
_NMF_R = 2  # unrolled multiplicative-update rounds


def _nmf_init_sql() -> str:
    hw = hashing.token_hash_sql(
        "'w|' || CAST(d AS VARCHAR) || '|' || CAST(k AS VARCHAR)"
    )
    hh = hashing.token_hash_sql(
        "'h|' || CAST(k AS VARCHAR) || '|' || t2"
    )
    return f"""
    v AS (
      SELECT doc_id AS d, tok AS t2, CAST(count(*) AS DOUBLE) AS v
      FROM (SELECT doc_id, unnest({text.tokens_sql("text")}) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    docs_ AS (SELECT DISTINCT d FROM v),
    terms_ AS (SELECT DISTINCT t2 FROM v),
    topics_ AS (SELECT CAST(r.range AS BIGINT) AS k FROM range({_NMF_K}) r),
    w0 AS (
      SELECT d, k, round(0.1 + ({hw} % 1000) / 1000.0, 10) AS w
      FROM docs_, topics_),
    h0 AS (
      SELECT k, t2, round(0.1 + ({hh} % 1000) / 1000.0, 10) AS h
      FROM topics_, terms_)"""


def _nmf_round_sql(r: int) -> str:
    p = r - 1
    return f"""
    numh{r} AS (
      SELECT w.k, v.t2, round(sum(w.w * v.v), 10) AS x
      FROM w{p} w JOIN v ON v.d = w.d GROUP BY w.k, v.t2),
    wtw{r} AS (
      SELECT a.k AS k1, b.k AS k2, round(sum(a.w * b.w), 10) AS x
      FROM w{p} a JOIN w{p} b ON a.d = b.d GROUP BY a.k, b.k),
    denh{r} AS (
      SELECT m.k1 AS k, h.t2, round(sum(m.x * h.h), 10) AS x
      FROM wtw{r} m JOIN h{p} h ON h.k = m.k2 GROUP BY m.k1, h.t2),
    h{r} AS (
      SELECT n.k, n.t2, round(h.h * n.x / (dn.x + 1e-9), 10) AS h
      FROM numh{r} n
      JOIN denh{r} dn ON dn.k = n.k AND dn.t2 = n.t2
      JOIN h{p} h ON h.k = n.k AND h.t2 = n.t2),
    numw{r} AS (
      SELECT v.d, h.k, round(sum(v.v * h.h), 10) AS x
      FROM v JOIN h{r} h ON h.t2 = v.t2 GROUP BY v.d, h.k),
    hht{r} AS (
      SELECT a.k AS k1, b.k AS k2, round(sum(a.h * b.h), 10) AS x
      FROM h{r} a JOIN h{r} b ON a.t2 = b.t2 GROUP BY a.k, b.k),
    denw{r} AS (
      SELECT w.d, m.k2 AS k, round(sum(w.w * m.x), 10) AS x
      FROM w{p} w JOIN hht{r} m ON m.k1 = w.k GROUP BY w.d, m.k2),
    w{r} AS (
      SELECT n.d, n.k, round(w.w * n.x / (dn.x + 1e-9), 10) AS w
      FROM numw{r} n
      JOIN denw{r} dn ON dn.d = n.d AND dn.k = n.k
      JOIN w{p} w ON w.d = n.d AND w.k = n.k)"""


@query(
    "q_nmf_topics",
    oracle=f"""
    WITH {_nmf_init_sql().lstrip()},
    {",".join(_nmf_round_sql(r).lstrip() for r in range(1, _NMF_R + 1))}
    SELECT d AS doc_id, CAST(k AS BIGINT) AS topic,
           round(w, 6) AS weight
    FROM (SELECT d, k, w, row_number() OVER (PARTITION BY d
               ORDER BY w DESC, k) AS rn FROM w{_NMF_R})
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def q_nmf_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X634 — NMF topic model (Lee & Seung 2001 Frobenius
    multiplicative updates): V(doc×term) term counts factorized as
    W·H with k=4 topics, {_NMF_R} update rounds unrolled. Every
    factor cell and every intermediate aggregate (WᵀV, WᵀW·H, V·Hᵀ,
    W·H·Hᵀ) is rounded to 10 dp so both engines advance from
    bit-identical doubles — the X606 unigram-EM discipline applied to
    matrix factorization. Init is a portable keyed hash of (matrix,
    row, col), so the factorization is seed-stable and engine-free.
    Output: each doc's argmax topic and weight.

    Scale shape: W updates are (doc×k)-keyed joins against k×k /
    k×term broadcasts (k=4, vocab-sized H — both tiny at any corpus
    scale); the only data-sized shuffles are the two V-keyed products
    per round, each a map-side-combinable groupBy. The doc×term V
    relation is the sparse explode — never a dense matrix."""
    d = load(spark, sf_dir, "documents")
    v = (
        d.select(
            F.col("doc_id").alias("d"),
            F.explode(text.tokens(F.col("text"))).alias("t2"),
        )
        .groupBy("d", "t2")
        .agg(F.count("*").cast("double").alias("v"))
        # checkpoint BEFORE docs_/terms_ derive from it, so the factor
        # inits and every round read the materialized sparse V instead
        # of re-tokenizing the corpus (guide §2.4)
        .localCheckpoint(eager=True)
    )
    docs_ = v.select("d").distinct()
    terms_ = v.select("t2").distinct()
    topics_ = spark.range(_NMF_K).select(F.col("id").alias("k"))
    hkey = lambda pre, a, b: hashing.token_hash(  # noqa: E731
        F.concat(
            F.lit(pre), a.cast("string"), F.lit("|"), b.cast("string")
        )
    )
    # init factors checkpointed like the per-round updates: round 1
    # references w four times (numh, both wtw sides, denw) and h three
    # times, each re-running the distinct+hash init pass (guide §2.4)
    w = (
        docs_.crossJoin(topics_)
        .select(
            "d",
            "k",
            F.round(
                0.1 + (hkey("w|", F.col("d"), F.col("k")) % 1000) / 1000.0,
                10,
            ).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    h = (
        topics_.crossJoin(terms_)
        .select(
            "k",
            "t2",
            F.round(
                0.1 + (hkey("h|", F.col("k"), F.col("t2")) % 1000) / 1000.0,
                10,
            ).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(_NMF_R):
        numh = (
            w.join(v, "d")
            .groupBy("k", "t2")
            .agg(F.round(F.sum(F.col("w") * F.col("v")), 10).alias("x"))
        )
        wtw = (
            w.alias("a")
            .join(w.alias("b"), "d")
            .groupBy(
                F.col("a.k").alias("k1"), F.col("b.k").alias("k2")
            )
            .agg(F.round(F.sum(F.col("a.w") * F.col("b.w")), 10).alias("x"))
        )
        denh = (
            wtw.join(h.withColumnRenamed("k", "k2"), "k2")
            .groupBy(F.col("k1").alias("k"), "t2")
            .agg(F.round(F.sum(F.col("x") * F.col("h")), 10).alias("x"))
        )
        h = (
            numh.withColumnRenamed("x", "nx")
            .join(denh.withColumnRenamed("x", "dx"), ["k", "t2"])
            .join(h, ["k", "t2"])
            .select(
                "k",
                "t2",
                F.round(
                    F.col("h") * F.col("nx") / (F.col("dx") + 1e-9), 10
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        numw = (
            v.join(h, "t2")
            .groupBy("d", "k")
            .agg(F.round(F.sum(F.col("v") * F.col("h")), 10).alias("x"))
        )
        hht = (
            h.alias("a")
            .join(h.alias("b"), "t2")
            .groupBy(
                F.col("a.k").alias("k1"), F.col("b.k").alias("k2")
            )
            .agg(F.round(F.sum(F.col("a.h") * F.col("b.h")), 10).alias("x"))
        )
        denw = (
            w.withColumnRenamed("k", "k1")
            .join(hht, "k1")
            .groupBy("d", F.col("k2").alias("k"))
            .agg(F.round(F.sum(F.col("w") * F.col("x")), 10).alias("x"))
        )
        w = (
            numw.withColumnRenamed("x", "nx")
            .join(denw.withColumnRenamed("x", "dx"), ["d", "k"])
            .join(w, ["d", "k"])
            .select(
                "d",
                "k",
                F.round(
                    F.col("w") * F.col("nx") / (F.col("dx") + 1e-9), 10
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    wn = W.partitionBy("d").orderBy(F.desc("w"), "k")
    return (
        w.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("doc_id"),
            F.col("k").cast("long").alias("topic"),
            F.round("w", 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# X635 — logistic regression via unrolled IRLS (Newton) steps
# ---------------------------------------------------------------------------

_IRLS_STEPS = 3


def _irls_step_sql(r: int) -> str:
    p = r - 1
    eta = f"(b{p}.b0 + b{p}.b1 * s.x)"
    pr = f"round(1.0 / (1.0 + exp(-{eta})), 10)"
    return f"""
    m{r} AS (
      SELECT round(sum({pr} * (1.0 - {pr})), 10) AS sw,
             round(sum({pr} * (1.0 - {pr}) * s.x), 10) AS swx,
             round(sum({pr} * (1.0 - {pr}) * s.x * s.x), 10) AS swxx,
             round(sum(s.y - {pr}), 10) AS g0,
             round(sum((s.y - {pr}) * s.x), 10) AS g1
      FROM s, b{p}),
    b{r} AS (
      SELECT round(b{p}.b0 + (m.swxx * m.g0 - m.swx * m.g1)
                   / (m.sw * m.swxx - m.swx * m.swx), 10) AS b0,
             round(b{p}.b1 + (m.sw * m.g1 - m.swx * m.g0)
                   / (m.sw * m.swxx - m.swx * m.swx), 10) AS b1
      FROM m{r} m, b{p})"""


@query(
    "q_logit_irls",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS y,
             round(value / 10.0, 10) AS x
      FROM events),
    b0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
    {",".join(_irls_step_sql(r).lstrip() for r in range(1, _IRLS_STEPS + 1))},
    ll AS (
      SELECT round(sum(s.y * ln(greatest(
               1.0 / (1.0 + exp(-(b.b0 + b.b1 * s.x))), 1e-12))
             + (1.0 - s.y) * ln(greatest(
               1.0 - 1.0 / (1.0 + exp(-(b.b0 + b.b1 * s.x))), 1e-12))), 6)
               AS loglik
      FROM s, b{_IRLS_STEPS} b)
    SELECT round(b.b0, 6) + 0.0 AS b0, round(b.b1, 6) + 0.0 AS b1,
           ll.loglik
    FROM b{_IRLS_STEPS} b, ll
    """,
)
def q_logit_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X635 — logistic regression trained by {_IRLS_STEPS} unrolled
    IRLS (Newton-Raphson) steps: y = 1[event_type=='error'] on the
    scaled reward. Each step aggregates the weighted moment matrix
    (Σw, Σwx, Σwx²) and score (Σ(y−p), Σ(y−p)x) — every sum rounded
    to 10 dp — and solves the 2×2 system in closed form, so both
    engines walk bit-identical Newton iterates (the X623 Kalman
    discipline applied to a model trainer). Output: coefficients and
    final log-likelihood.

    Scale shape: each step is ONE map-side-combinable scalar
    aggregate over the data and a broadcast coefficient row — the
    textbook distributed GLM fit. Steps are data passes, not state:
    nothing per-row persists between iterations."""
    e = load(spark, sf_dir, "events")
    s = e.select(
        F.when(F.col("event_type") == "error", 1.0)
        .otherwise(0.0)
        .alias("y"),
        F.round(F.col("value") / 10.0, 10).alias("x"),
    ).localCheckpoint(eager=True)
    b = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    for _ in range(_IRLS_STEPS):
        j = s.crossJoin(F.broadcast(b))
        pr = F.round(
            1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x")))),
            10,
        )
        m = j.agg(
            F.round(F.sum(pr * (1.0 - pr)), 10).alias("sw"),
            F.round(F.sum(pr * (1.0 - pr) * F.col("x")), 10).alias("swx"),
            F.round(
                F.sum(pr * (1.0 - pr) * F.col("x") * F.col("x")), 10
            ).alias("swxx"),
            F.round(F.sum(F.col("y") - pr), 10).alias("g0"),
            F.round(F.sum((F.col("y") - pr) * F.col("x")), 10).alias("g1"),
            F.any_value("b0").alias("pb0"),
            F.any_value("b1").alias("pb1"),
        )
        det = F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
        b = m.select(
            F.round(
                F.col("pb0")
                + (F.col("swxx") * F.col("g0") - F.col("swx") * F.col("g1"))
                / det,
                10,
            ).alias("b0"),
            F.round(
                F.col("pb1")
                + (F.col("sw") * F.col("g1") - F.col("swx") * F.col("g0"))
                / det,
                10,
            ).alias("b1"),
        ).localCheckpoint(eager=True)
    j = s.crossJoin(F.broadcast(b))
    p_ = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
    ll = j.agg(
        F.round(
            F.sum(
                F.col("y") * F.log(F.greatest(p_, F.lit(1e-12)))
                + (1.0 - F.col("y"))
                * F.log(F.greatest(1.0 - p_, F.lit(1e-12)))
            ),
            6,
        ).alias("loglik"),
        F.any_value("b0").alias("fb0"),
        F.any_value("b1").alias("fb1"),
    )
    return ll.select(
        (F.round("fb0", 6) + 0.0).alias("b0"),
        (F.round("fb1", 6) + 0.0).alias("b1"),
        "loglik",
    )


# ---------------------------------------------------------------------------
# X636 — 1-D two-component Gaussian mixture via unrolled EM
# ---------------------------------------------------------------------------

_GMM_ROUNDS = 2


def _gmm_round_sql(r: int) -> str:
    p = r - 1
    d1 = f"exp(-((s.x - t{p}.mu1) * (s.x - t{p}.mu1)) / (2 * t{p}.v1)) / sqrt(t{p}.v1)"
    d2 = f"exp(-((s.x - t{p}.mu2) * (s.x - t{p}.mu2)) / (2 * t{p}.v2)) / sqrt(t{p}.v2)"
    g = f"round(t{p}.pi1 * {d1} / greatest(t{p}.pi1 * {d1} + (1 - t{p}.pi1) * {d2}, 1e-300), 10)"
    return f"""
    e{r} AS (
      SELECT round(sum({g}), 10) AS n1,
             round(sum(1.0 - {g}), 10) AS n2,
             round(sum({g} * s.x), 10) AS sx1,
             round(sum((1.0 - {g}) * s.x), 10) AS sx2,
             round(sum({g} * s.x * s.x), 10) AS sxx1,
             round(sum((1.0 - {g}) * s.x * s.x), 10) AS sxx2,
             count(*) AS n
      FROM s, t{p}),
    t{r} AS (
      SELECT round(n1 / n, 10) AS pi1,
             round(sx1 / n1, 10) AS mu1,
             round(greatest(sxx1 / n1 - (sx1 / n1) * (sx1 / n1), 1e-6), 10) AS v1,
             round(sx2 / n2, 10) AS mu2,
             round(greatest(sxx2 / n2 - (sx2 / n2) * (sx2 / n2), 1e-6), 10) AS v2
      FROM e{r})"""


@query(
    "q_gmm_em_1d",
    oracle=f"""
    WITH s AS (SELECT round(value, 10) AS x FROM events),
    q AS (
      SELECT round(min(x) + (max(x) - min(x)) / 4.0, 10) AS mu1,
             round(min(x) + 3.0 * (max(x) - min(x)) / 4.0, 10) AS mu2,
             round(greatest(avg(x * x) - avg(x) * avg(x), 1e-6), 10) AS v
      FROM s),
    t0 AS (SELECT 0.5 AS pi1, mu1, v AS v1, mu2, v AS v2 FROM q),
    {",".join(_gmm_round_sql(r).lstrip() for r in range(1, _GMM_ROUNDS + 1))}
    SELECT round(pi1, 6) AS pi1, round(mu1, 6) AS mu1,
           round(sqrt(v1), 6) AS sigma1, round(mu2, 6) AS mu2,
           round(sqrt(v2), 6) AS sigma2
    FROM t{_GMM_ROUNDS}
    """,
)
def q_gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X636 — 1-D two-component Gaussian mixture fit by {_GMM_ROUNDS}
    unrolled EM rounds over the reward distribution: deterministic
    range-quartile init, E-step responsibilities and every M-step
    weighted sum rounded to 10 dp (the unrolled-recurrence discipline
    again — both engines walk identical parameter iterates). Output:
    mixing weight, component means and sigmas.

    Scale: each EM round is one scalar aggregate against a broadcast
    parameter row — embarrassingly map-side at any data size; no
    per-row state survives a round."""
    e = load(spark, sf_dir, "events")
    s = e.select(F.round("value", 10).alias("x")).localCheckpoint(
        eager=True
    )
    q = s.agg(
        F.round(
            F.min("x") + (F.max("x") - F.min("x")) / 4.0, 10
        ).alias("mu1"),
        F.round(
            F.min("x") + 3.0 * (F.max("x") - F.min("x")) / 4.0, 10
        ).alias("mu2"),
        F.round(
            F.greatest(
                F.avg(F.col("x") * F.col("x"))
                - F.avg("x") * F.avg("x"),
                F.lit(1e-6),
            ),
            10,
        ).alias("v"),
    )
    t = q.select(
        F.lit(0.5).alias("pi1"),
        "mu1",
        F.col("v").alias("v1"),
        "mu2",
        F.col("v").alias("v2"),
    )
    for _ in range(_GMM_ROUNDS):
        j = s.crossJoin(F.broadcast(t))
        d1 = F.exp(
            -((F.col("x") - F.col("mu1")) ** 2) / (2 * F.col("v1"))
        ) / F.sqrt("v1")
        d2 = F.exp(
            -((F.col("x") - F.col("mu2")) ** 2) / (2 * F.col("v2"))
        ) / F.sqrt("v2")
        g = F.round(
            F.col("pi1")
            * d1
            / F.greatest(
                F.col("pi1") * d1 + (1 - F.col("pi1")) * d2,
                F.lit(1e-300),
            ),
            10,
        )
        agg = j.agg(
            F.round(F.sum(g), 10).alias("n1"),
            F.round(F.sum(1.0 - g), 10).alias("n2"),
            F.round(F.sum(g * F.col("x")), 10).alias("sx1"),
            F.round(F.sum((1.0 - g) * F.col("x")), 10).alias("sx2"),
            F.round(F.sum(g * F.col("x") * F.col("x")), 10).alias("sxx1"),
            F.round(
                F.sum((1.0 - g) * F.col("x") * F.col("x")), 10
            ).alias("sxx2"),
            F.count("*").alias("n"),
        )
        t = agg.select(
            F.round(F.col("n1") / F.col("n"), 10).alias("pi1"),
            F.round(F.col("sx1") / F.col("n1"), 10).alias("mu1"),
            F.round(
                F.greatest(
                    F.col("sxx1") / F.col("n1")
                    - (F.col("sx1") / F.col("n1")) ** 2,
                    F.lit(1e-6),
                ),
                10,
            ).alias("v1"),
            F.round(F.col("sx2") / F.col("n2"), 10).alias("mu2"),
            F.round(
                F.greatest(
                    F.col("sxx2") / F.col("n2")
                    - (F.col("sx2") / F.col("n2")) ** 2,
                    F.lit(1e-6),
                ),
                10,
            ).alias("v2"),
        ).localCheckpoint(eager=True)
    return t.select(
        F.round("pi1", 6).alias("pi1"),
        F.round("mu1", 6).alias("mu1"),
        F.round(F.sqrt("v1"), 6).alias("sigma1"),
        F.round("mu2", 6).alias("mu2"),
        F.round(F.sqrt("v2"), 6).alias("sigma2"),
    )


# ---------------------------------------------------------------------------
# X637 — AR(2) fit by Yule-Walker on the daily event-count series
# ---------------------------------------------------------------------------


@query(
    "q_ar2_yule_walker",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY 1),
    ctr AS (
      SELECT day, y - (SELECT avg(y) FROM daily) AS z,
             row_number() OVER (ORDER BY day) AS i
      FROM daily),
    acv AS (
      SELECT round(sum(a.z * a.z) / count(*), 10) AS c0,
             round(sum(CASE WHEN b1.z IS NOT NULL THEN a.z * b1.z END)
                   / count(*), 10) AS c1,
             round(sum(CASE WHEN b2.z IS NOT NULL THEN a.z * b2.z END)
                   / count(*), 10) AS c2
      FROM ctr a
      LEFT JOIN ctr b1 ON b1.i = a.i - 1
      LEFT JOIN ctr b2 ON b2.i = a.i - 2),
    fit AS (
      SELECT round((c1 * c0 - c1 * c2) / (c0 * c0 - c1 * c1), 10) AS phi1,
             round((c0 * c2 - c1 * c1) / (c0 * c0 - c1 * c1), 10) AS phi2,
             c0, c1, c2
      FROM acv)
    SELECT round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
           round(c0 - phi1 * c1 - phi2 * c2, 6) AS noise_var,
           round(c1 / c0, 6) AS rho1, round(c2 / c0, 6) AS rho2
    FROM fit
    """,
)
def q_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X637 — AR(2) fit by Yule-Walker: autocovariances c0..c2 of the
    daily event-count series (biased 1/n estimator, rounded before
    the solve), the 2×2 Yule-Walker system solved in closed form, and
    the innovation variance c0 − φ1·c1 − φ2·c2. The lag joins are
    index-shifted self-joins on the day rank, denominators shared so
    both engines divide identical doubles.

    Scale: the series is date-grained (tiny at any corpus size); the
    heavy step is the per-day count — map-side combinable."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    mean = daily.agg(F.avg("y").alias("m"))
    ctr = (
        daily.crossJoin(F.broadcast(mean))
        .select(
            "day",
            (F.col("y") - F.col("m")).alias("z"),
            F.row_number().over(W.orderBy("day")).alias("i"),
        )
    )
    b1 = ctr.select(F.col("i").alias("i1"), F.col("z").alias("z1"))
    b2 = ctr.select(F.col("i").alias("i2"), F.col("z").alias("z2"))
    acv = (
        ctr.join(b1, F.col("i1") == F.col("i") - 1, "left")
        .join(b2, F.col("i2") == F.col("i") - 2, "left")
        .agg(
            F.round(
                F.sum(F.col("z") * F.col("z")) / F.count("*"), 10
            ).alias("c0"),
            F.round(
                F.sum(
                    F.when(
                        F.col("z1").isNotNull(), F.col("z") * F.col("z1")
                    )
                )
                / F.count("*"),
                10,
            ).alias("c1"),
            F.round(
                F.sum(
                    F.when(
                        F.col("z2").isNotNull(), F.col("z") * F.col("z2")
                    )
                )
                / F.count("*"),
                10,
            ).alias("c2"),
        )
    )
    det = F.col("c0") * F.col("c0") - F.col("c1") * F.col("c1")
    phi1 = F.round(
        (F.col("c1") * F.col("c0") - F.col("c1") * F.col("c2")) / det, 10
    )
    phi2 = F.round(
        (F.col("c0") * F.col("c2") - F.col("c1") * F.col("c1")) / det, 10
    )
    return acv.select(
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(
            F.col("c0") - phi1 * F.col("c1") - phi2 * F.col("c2"), 6
        ).alias("noise_var"),
        F.round(F.col("c1") / F.col("c0"), 6).alias("rho1"),
        F.round(F.col("c2") / F.col("c0"), 6).alias("rho2"),
    )


# ---------------------------------------------------------------------------
# X638 — jackknife variance for a ratio metric (leave-one-group-out)
# ---------------------------------------------------------------------------


@query(
    "q_jackknife_ratio",
    oracle="""
    WITH g AS (
      SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS xc,
             count(*) AS y FROM events
      GROUP BY user_id),
    tot AS (SELECT sum(xc) AS txc, sum(y) AS ty,
                   count(*) AS k FROM g),
    pseudo AS (
      SELECT g.user_id,
             round(((tot.txc - g.xc) / 100.0) / (tot.ty - g.y), 10) AS r_loo
      FROM g, tot),
    jk AS (
      SELECT round(avg(r_loo), 10) AS rbar,
             round(sum((r_loo - (SELECT round(avg(r_loo), 10) FROM pseudo))
                   * (r_loo - (SELECT round(avg(r_loo), 10) FROM pseudo))),
                   10) AS ss,
             count(*) AS k
      FROM pseudo)
    SELECT round((tot.txc / 100.0) / tot.ty, 6) AS ratio,
           round(jk.rbar, 6) AS jk_mean,
           round(sqrt((jk.k - 1.0) / jk.k * jk.ss), 6) AS jk_se,
           CAST(jk.k AS BIGINT) AS n_groups
    FROM tot, jk
    """,
)
def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X638 — leave-one-group-out jackknife for a ratio metric
    (revenue per event, grouped by user — the delta-method
    alternative every experimentation platform ships for ratio
    metrics whose numerator and denominator are correlated within
    user): each pseudo-value is the ratio with one user's totals
    removed (computed from the GLOBAL totals minus the group row —
    no per-group rescan), jackknife SE = sqrt((k-1)/k · Σ(r_i − r̄)²).

    Scale: one groupBy for per-user totals, one scalar total, then
    arithmetic per group row — the entire jackknife costs one
    aggregate more than the metric itself.

    Value sums use the integer-cents contract (events.value is exactly
    2-decimal): bigint cent sums are associative, so Spark's partition
    tree and DuckDB's sequential sum cannot diverge (ADVICE r8)."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("xc"),
        F.count("*").alias("y"),
    )
    tot = g.agg(
        F.sum("xc").alias("txc"),
        F.sum("y").alias("ty"),
        F.count("*").alias("k"),
    )
    pseudo = g.crossJoin(F.broadcast(tot)).select(
        "user_id",
        F.round(
            ((F.col("txc") - F.col("xc")) / 100.0)
            / (F.col("ty") - F.col("y")),
            10,
        ).alias("r_loo"),
    )
    rbar = pseudo.agg(F.round(F.avg("r_loo"), 10).alias("rbar"))
    jk = (
        pseudo.crossJoin(F.broadcast(rbar))
        .agg(
            F.any_value("rbar").alias("rbar"),
            F.round(
                F.sum(
                    (F.col("r_loo") - F.col("rbar"))
                    * (F.col("r_loo") - F.col("rbar"))
                ),
                10,
            ).alias("ss"),
            F.count("*").alias("k"),
        )
    )
    return tot.crossJoin(jk.withColumnRenamed("k", "k2")).select(
        F.round((F.col("txc") / 100.0) / F.col("ty"), 6).alias("ratio"),
        F.round("rbar", 6).alias("jk_mean"),
        F.round(
            F.sqrt((F.col("k2") - 1.0) / F.col("k2") * F.col("ss")), 6
        ).alias("jk_se"),
        F.col("k2").cast("long").alias("n_groups"),
    )


# ---------------------------------------------------------------------------
# X639 — difference-in-differences (2×2 design)
# ---------------------------------------------------------------------------


@query(
    "q_diff_in_diff",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2.0 AS mid
      FROM events),
    cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN epoch_us(ts) >= bounds.mid THEN 1 ELSE 0 END AS post,
             value
      FROM events, bounds),
    m AS (
      SELECT treated, post, round(avg(value), 10) AS mu,
             count(*) AS n
      FROM cells GROUP BY treated, post)
    SELECT round(tp.mu, 6) AS mean_t_pre, round(tq.mu, 6) AS mean_t_post,
           round(cp.mu, 6) AS mean_c_pre, round(cq.mu, 6) AS mean_c_post,
           CAST(tp.n + tq.n + cp.n + cq.n AS BIGINT) AS n_total,
           round((tq.mu - tp.mu) - (cq.mu - cp.mu), 6) AS did
    FROM m tp, m tq, m cp, m cq
    WHERE tp.treated = 1 AND tp.post = 0 AND tq.treated = 1 AND tq.post = 1
      AND cp.treated = 0 AND cp.post = 0 AND cq.treated = 0 AND cq.post = 1
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X639 — 2×2 difference-in-differences: treatment = user parity,
    post = second half of the stream's time range (midpoint of epoch
    extremes — engine-shared arithmetic), DiD = (T,post − T,pre) −
    (C,post − C,pre) from per-cell means rounded before the
    subtraction. The parallel-trends estimator every experimentation
    stack reaches for when randomization wasn't available.

    Scale: one scalar bounds pass + one 4-cell aggregate."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        (
            (F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts")))
            / 2.0
        ).alias("mid")
    )
    cells = e.crossJoin(F.broadcast(bounds)).select(
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(F.unix_micros("ts") >= F.col("mid"), 1)
        .otherwise(0)
        .alias("post"),
        "value",
    )
    m = cells.groupBy("treated", "post").agg(
        F.round(F.avg("value"), 10).alias("mu"), F.count("*").alias("n")
    )
    p = m.groupBy().pivot("treated", [0, 1]).agg(
        F.max(F.when(F.col("post") == 0, F.col("mu"))).alias("pre"),
        F.max(F.when(F.col("post") == 1, F.col("mu"))).alias("post"),
        F.sum("n").alias("n"),
    )
    return p.select(
        F.round("1_pre", 6).alias("mean_t_pre"),
        F.round("1_post", 6).alias("mean_t_post"),
        F.round("0_pre", 6).alias("mean_c_pre"),
        F.round("0_post", 6).alias("mean_c_post"),
        (F.col("0_n") + F.col("1_n")).cast("long").alias("n_total"),
        F.round(
            (F.col("1_post") - F.col("1_pre"))
            - (F.col("0_post") - F.col("0_pre")),
            6,
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# X640 — instrumental variable (2SLS / Wald with a binary instrument)
# ---------------------------------------------------------------------------


@query(
    "q_iv_2sls",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS z,
             CAST(round(value * 100) AS BIGINT) AS xc,
             CAST(length(props) AS BIGINT) AS y
      FROM events),
    mi AS (
      SELECT count(*) AS n,
             sum(z) AS szi, sum(xc) AS sxc, sum(y) AS syi,
             sum(z * xc) AS szxc, sum(z * y) AS szyi,
             sum(xc * xc) AS sxxc
      FROM s),
    m AS (
      SELECT n,
             CAST(szi AS DOUBLE) AS sz, sxc / 100.0 AS sx,
             CAST(syi AS DOUBLE) AS sy,
             szxc / 100.0 AS szx, CAST(szyi AS DOUBLE) AS szy,
             CAST(szi AS DOUBLE) AS szz, sxxc / 10000.0 AS sxx
      FROM mi),
    c AS (
      SELECT n,
             round(szy - sz * sy / n, 10) AS cov_zy,
             round(szx - sz * sx / n, 10) AS cov_zx,
             round(szz - sz * sz / n, 10) AS var_z,
             round(sxx - sx * sx / n, 10) AS var_x
      FROM m)
    SELECT round(cov_zy / cov_zx, 6) AS beta_iv,
           round(cov_zx / var_z, 6) AS first_stage_coef,
           round((n - 2) * (cov_zx * cov_zx / (var_z * var_x))
                 / (1.0 - cov_zx * cov_zx / (var_z * var_x)), 6)
             AS first_stage_f,
           CAST(n AS BIGINT) AS n
    FROM c
    """,
)
def q_iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X640 — instrumental-variable estimate (2SLS with one binary
    instrument = the Wald estimator): β_IV = cov(z,y)/cov(z,x), with
    the first-stage coefficient and F statistic (the weak-instrument
    diagnostic — F < 10 means the IV answer is noise, the first thing
    a causal reviewer checks). All moments from one scalar aggregate
    over EXACT INTEGERS (z binary, y = length, x in 2-decimal cents —
    ADVICE r8: integer sums are associative, so Spark's partition tree
    and DuckDB's sequential sum cannot diverge); covariances derived
    from the same converted doubles on both engines.

    Scale: one map-side-combinable aggregate over the data. (Like the
    GRPO squared-cents store, sum(xc²) bounds n at ~10^8 rows per
    bigint — beyond that, promote to DECIMAL.)"""
    e = load(spark, sf_dir, "events")
    s = e.select(
        F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).cast("long").alias("z"),
        F.round(F.col("value") * 100).cast("long").alias("xc"),
        F.length("props").cast("long").alias("y"),
    )
    mi = s.agg(
        F.count("*").alias("n"),
        F.sum("z").alias("szi"),
        F.sum("xc").alias("sxc"),
        F.sum("y").alias("syi"),
        F.sum(F.col("z") * F.col("xc")).alias("szxc"),
        F.sum(F.col("z") * F.col("y")).alias("szyi"),
        F.sum(F.col("xc") * F.col("xc")).alias("sxxc"),
    )
    m = mi.select(
        "n",
        F.col("szi").cast("double").alias("sz"),
        (F.col("sxc") / 100.0).alias("sx"),
        F.col("syi").cast("double").alias("sy"),
        (F.col("szxc") / 100.0).alias("szx"),
        F.col("szyi").cast("double").alias("szy"),
        F.col("szi").cast("double").alias("szz"),
        (F.col("sxxc") / 10000.0).alias("sxx"),
    )
    c = m.select(
        "n",
        F.round(
            F.col("szy") - F.col("sz") * F.col("sy") / F.col("n"), 10
        ).alias("cov_zy"),
        F.round(
            F.col("szx") - F.col("sz") * F.col("sx") / F.col("n"), 10
        ).alias("cov_zx"),
        F.round(
            F.col("szz") - F.col("sz") * F.col("sz") / F.col("n"), 10
        ).alias("var_z"),
        F.round(
            F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"), 10
        ).alias("var_x"),
    )
    r2 = (
        F.col("cov_zx")
        * F.col("cov_zx")
        / (F.col("var_z") * F.col("var_x"))
    )
    return c.select(
        F.round(F.col("cov_zy") / F.col("cov_zx"), 6).alias("beta_iv"),
        F.round(F.col("cov_zx") / F.col("var_z"), 6).alias(
            "first_stage_coef"
        ),
        F.round((F.col("n") - 2) * r2 / (1.0 - r2), 6).alias(
            "first_stage_f"
        ),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# X641 — regression discontinuity (local linear, closed form)
# ---------------------------------------------------------------------------

_RDD_CUT = 5.0
_RDD_BW = 2.0


def _rdd_side_sql(side: str, cond: str) -> str:
    return f"""
    m{side} AS (
      SELECT count(*) AS n,
             round(sum(r), 10) AS sr, round(sum(y), 10) AS sy,
             round(sum(r * r), 10) AS srr, round(sum(r * y), 10) AS sry
      FROM s WHERE {cond}),
    f{side} AS (
      SELECT n,
             round((sry - sr * sy / n) / (srr - sr * sr / n), 10)
               AS slope,
             round(sy / n - (sry - sr * sy / n)
                   / (srr - sr * sr / n) * sr / n, 10) AS icept
      FROM m{side})"""


@query(
    "q_rdd_local_linear",
    oracle=f"""
    WITH s AS (
      SELECT value - {_RDD_CUT} AS r,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events WHERE abs(value - {_RDD_CUT}) <= {_RDD_BW}),
    {_rdd_side_sql("l", "r < 0").lstrip()},
    {_rdd_side_sql("r", "r >= 0").lstrip()}
    SELECT round(fl.icept, 6) AS intercept_left,
           round(fr.icept, 6) AS intercept_right,
           round(fl.slope, 6) AS slope_left,
           round(fr.slope, 6) AS slope_right,
           CAST(ml.n AS BIGINT) AS n_left, CAST(mr.n AS BIGINT) AS n_right,
           round(fr.icept - fl.icept, 6) AS effect
    FROM fl, fr, ml, mr
    """,
)
def q_rdd_local_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X641 — sharp regression discontinuity with local linear fits:
    running variable = reward centered at the 5.0 cutoff, outcome =
    purchase indicator, bandwidth ±2.0. Each side gets a closed-form
    OLS line from rounded moment sums; the causal effect is the jump
    between the two intercepts AT the cutoff (local linear, not
    difference-in-means — the boundary-bias correction that makes RDD
    credible).

    Scale: bandwidth filter pushes to the scan; two scalar moment
    aggregates."""
    e = load(spark, sf_dir, "events")
    # explicit range (not abs()) so parquet gets two PUSHABLE
    # comparisons — at 100 TB the bandwidth filter IS the plan
    s = e.filter(
        (F.col("value") >= _RDD_CUT - _RDD_BW)
        & (F.col("value") <= _RDD_CUT + _RDD_BW)
    ).select(
        (F.col("value") - _RDD_CUT).alias("r"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )

    def side(cond):
        m = s.filter(cond).agg(
            F.count("*").alias("n"),
            F.round(F.sum("r"), 10).alias("sr"),
            F.round(F.sum("y"), 10).alias("sy"),
            F.round(F.sum(F.col("r") * F.col("r")), 10).alias("srr"),
            F.round(F.sum(F.col("r") * F.col("y")), 10).alias("sry"),
        )
        slope = F.round(
            (F.col("sry") - F.col("sr") * F.col("sy") / F.col("n"))
            / (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")),
            10,
        )
        return m.select(
            "n",
            slope.alias("slope"),
            F.round(
                F.col("sy") / F.col("n") - slope * F.col("sr") / F.col("n"),
                10,
            ).alias("icept"),
        )

    left = side(F.col("r") < 0).select(
        F.col("n").alias("n_l"),
        F.col("slope").alias("sl_l"),
        F.col("icept").alias("ic_l"),
    )
    right = side(F.col("r") >= 0).select(
        F.col("n").alias("n_r"),
        F.col("slope").alias("sl_r"),
        F.col("icept").alias("ic_r"),
    )
    return left.crossJoin(right).select(
        F.round("ic_l", 6).alias("intercept_left"),
        F.round("ic_r", 6).alias("intercept_right"),
        F.round("sl_l", 6).alias("slope_left"),
        F.round("sl_r", 6).alias("slope_right"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        F.round(F.col("ic_r") - F.col("ic_l"), 6).alias("effect"),
    )


# ---------------------------------------------------------------------------
# X642 — Qini curve / uplift evaluation by score decile
# ---------------------------------------------------------------------------


@query(
    "q_qini_curve",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS treated,
             count(*) AS score,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS outcome
      FROM events GROUP BY user_id),
    ranked AS (
      SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM u),
    per AS (
      SELECT decile,
             sum(treated) AS nt, sum(1 - treated) AS nc,
             sum(CASE WHEN treated = 1 THEN outcome ELSE 0 END) AS rt,
             sum(CASE WHEN treated = 0 THEN outcome ELSE 0 END) AS rc
      FROM ranked GROUP BY decile),
    cum AS (
      SELECT decile,
             sum(nt) OVER w AS nt_cum, sum(nc) OVER w AS nc_cum,
             sum(rt) OVER w AS rt_cum, sum(rc) OVER w AS rc_cum
      FROM per WINDOW w AS (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(nt_cum AS BIGINT) AS nt_cum,
           CAST(nc_cum AS BIGINT) AS nc_cum,
           CAST(rt_cum AS BIGINT) AS rt_cum,
           CAST(rc_cum AS BIGINT) AS rc_cum,
           round(rt_cum - rc_cum * nt_cum * 1.0 / nc_cum, 6) AS qini
    FROM cum ORDER BY decile
    """,
)
def q_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X642 — Qini curve (Radcliffe 2007, the uplift-model evaluation
    standard): users ranked by a targeting score (engagement = event
    count; any uplift model's score slots in), cumulated by decile;
    Qini(d) = Rt_cum − Rc_cum·Nt_cum/Nc_cum measures incremental
    responders vs targeting nobody — the area under this curve (AUUC)
    is the model's value. Treatment = user parity, outcome = any
    purchase. Integer counts cumulate exactly; only the final Qini
    value divides.

    Scale: one per-user aggregate, one decile ntile (2-pass histogram
    cut at scale), a 10-row window."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.max("user_id") % 2).cast("long").alias("treated"),
        F.count("*").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("outcome"),
    )
    ranked = u.withColumn(
        "decile", F.ntile(10).over(W.orderBy(F.desc("score"), "user_id"))
    )
    per = ranked.groupBy("decile").agg(
        F.sum("treated").alias("nt"),
        F.sum(1 - F.col("treated")).alias("nc"),
        F.sum(
            F.when(F.col("treated") == 1, F.col("outcome")).otherwise(0)
        ).alias("rt"),
        F.sum(
            F.when(F.col("treated") == 0, F.col("outcome")).otherwise(0)
        ).alias("rc"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per.select(
        "decile",
        F.sum("nt").over(wc).alias("nt_cum"),
        F.sum("nc").over(wc).alias("nc_cum"),
        F.sum("rt").over(wc).alias("rt_cum"),
        F.sum("rc").over(wc).alias("rc_cum"),
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("nt_cum").cast("long").alias("nt_cum"),
        F.col("nc_cum").cast("long").alias("nc_cum"),
        F.col("rt_cum").cast("long").alias("rt_cum"),
        F.col("rc_cum").cast("long").alias("rc_cum"),
        F.round(
            F.col("rt_cum")
            - F.col("rc_cum") * F.col("nt_cum") / F.col("nc_cum"),
            6,
        ).alias("qini"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# X643 — Mann-Kendall trend test (exact integer S, tie-corrected)
# ---------------------------------------------------------------------------


@query(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS y
      FROM events GROUP BY 1),
    n_ AS (SELECT count(*) AS n FROM daily),
    s_ AS (
      SELECT sum(CASE WHEN b.y > a.y THEN 1
                      WHEN b.y < a.y THEN -1 ELSE 0 END) AS s
      FROM daily a JOIN daily b ON b.day > a.day),
    ties AS (
      SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tsum
      FROM (SELECT count(*) AS t FROM daily GROUP BY y HAVING count(*) > 1)),
    v AS (
      SELECT (n_.n * (n_.n - 1) * (2 * n_.n + 5) - ties.tsum) / 18.0
               AS var_s
      FROM n_, ties)
    SELECT CAST(s_.s AS BIGINT) AS s,
           CAST(n_.n AS BIGINT) AS n_days,
           round(v.var_s, 6) AS var_s,
           round((s_.s - CASE WHEN s_.s > 0 THEN 1
                              WHEN s_.s < 0 THEN -1 ELSE 0 END)
                 / sqrt(v.var_s), 6) AS z
    FROM s_, n_, v
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X643 — Mann-Kendall trend test on the daily event-count
    series: S = Σ_{i<j} sign(y_j − y_i) is an exact integer (no float
    order dependence at all), variance tie-corrected
    ((n(n−1)(2n+5) − Σt(t−1)(2t+5))/18), z continuity-corrected. The
    standard nonparametric is-this-series-drifting check for metric
    monitoring — no distributional assumption, robust to outliers.

    Scale: the pair join runs on the DATE-grained series (days², not
    events²); the heavy step is the per-day count, map-side
    combinable."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("y"))
    n_ = daily.agg(F.count("*").alias("n"))
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    s_ = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tsum")
        )
    )
    j = s_.crossJoin(n_).crossJoin(ties)
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tsum")
    ) / 18.0
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    return j.select(
        F.col("s").cast("long").alias("s"),
        F.col("n").cast("long").alias("n_days"),
        F.round(var_s, 6).alias("var_s"),
        F.round((F.col("s") - cc) / F.sqrt(var_s), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# X644 — corpus source concentration (HHI + effective sources)
# ---------------------------------------------------------------------------


@query(
    "q_source_concentration",
    oracle="""
    WITH bylang AS (
      SELECT lang, source, sum(n_chars) AS chars
      FROM documents GROUP BY lang, source),
    tot AS (SELECT lang, sum(chars) AS t FROM bylang GROUP BY lang),
    sh AS (
      SELECT b.lang, round(b.chars * 1.0 / t.t, 10) AS share
      FROM bylang b JOIN tot t ON t.lang = b.lang)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
           round(sum(share * share), 6) AS hhi,
           round(1.0 / sum(share * share), 6) AS effective_sources,
           round(max(share), 6) AS top_share
    FROM sh GROUP BY lang ORDER BY lang
    """,
)
def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X644 — per-language source concentration: Herfindahl-Hirschman
    index of char-volume shares, effective source count (1/HHI), and
    the top source's share — the corpus-governance dashboard row that
    flags a language secretly dominated by one crawl source (the
    diversity failure mode behind benchmark contamination and style
    collapse).

    Scale: one (lang, source) aggregate — map-side combinable — then
    vocabulary-sized arithmetic."""
    d = load(spark, sf_dir, "documents")
    bylang = d.groupBy("lang", "source").agg(
        F.sum("n_chars").alias("chars")
    )
    tot = bylang.groupBy("lang").agg(F.sum("chars").alias("t"))
    sh = bylang.join(tot, "lang").select(
        "lang", F.round(F.col("chars") / F.col("t"), 10).alias("share")
    )
    return (
        sh.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.round(F.sum(F.col("share") * F.col("share")), 6).alias(
                "hhi"
            ),
            F.round(
                1.0 / F.sum(F.col("share") * F.col("share")), 6
            ).alias("effective_sources"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X646 — Good-Turing frequency smoothing
# ---------------------------------------------------------------------------


@query(
    "q_good_turing",
    oracle=f"""
    WITH cnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT unnest({text.tokens_sql("text")}) AS tok FROM documents)
      GROUP BY tok),
    tot AS (SELECT sum(c) AS n FROM cnt),
    freqfreq AS (
      SELECT c, CAST(count(*) AS BIGINT) AS nc FROM cnt GROUP BY c),
    gt AS (
      SELECT f.c, f.nc, f2.nc AS nc1,
             round((f.c + 1) * f2.nc * 1.0 / f.nc, 10) AS c_star
      FROM freqfreq f LEFT JOIN freqfreq f2 ON f2.c = f.c + 1)
    SELECT gt.c, gt.nc,
           round(gt.c_star, 6) AS c_star,
           round(gt.c_star / tot.n, 8) AS p_gt,
           round(gt.c * 1.0 / tot.n, 8) AS p_mle
    FROM gt, tot
    WHERE gt.nc1 IS NOT NULL
    ORDER BY gt.c
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X646 — Good-Turing frequency smoothing (the count-of-counts
    estimator under Katz backoff and the classical unseen-mass
    argument): adjusted count c* = (c+1)·N_{c+1}/N_c per observed
    frequency class, with the smoothed vs MLE probability side by
    side. Rows whose N_{c+1} is empty are omitted (the standard cutoff
    — high counts keep their MLE). N_1/N, the first row's probability
    mass, is the Good-Turing estimate of everything never seen — the
    number an LM's OOV budget comes from.

    Scale: a token count, a count-of-counts rollup (frequency-class
    sized), and a self-join on c+1 — nothing data-sized past the
    first aggregate."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.agg(F.sum("c").alias("n"))
    ff = cnt.groupBy("c").agg(F.count("*").alias("nc"))
    nxt = ff.select(
        (F.col("c") - 1).alias("c"), F.col("nc").alias("nc1")
    )
    gt = (
        ff.join(nxt, "c", "left")
        .filter(F.col("nc1").isNotNull())
        .withColumn(
            "c_star",
            F.round((F.col("c") + 1) * F.col("nc1") / F.col("nc"), 10),
        )
    )
    return (
        gt.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").cast("long").alias("c"),
            F.col("nc").cast("long").alias("nc"),
            F.round("c_star", 6).alias("c_star"),
            F.round(F.col("c_star") / F.col("n"), 8).alias("p_gt"),
            F.round(F.col("c") / F.col("n"), 8).alias("p_mle"),
        )
        .orderBy("c")
    )
