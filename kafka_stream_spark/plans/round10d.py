"""Round-10 batch D (X735+): streaming sketch stores and corpus
statistics.

Reference scope note: §2.13 mandate extensions, reference-free.

- X735 run_streaming_cms (streaming/pipeline.py): X723's streaming
  face — the count-min cells are purely additive, so the sketch IS
  its own merge law.
- X736 q_hdr_quantiles: HdrHistogram-style log-bucketed quantiles
  with the measured error vs exact order statistics.
- X737 q_jelinek_mercer: held-out EM fit of the JM interpolation
  weight λ between bigram and unigram MLEs.
- X738 q_chao1: Chao1 species-richness / unseen-vocabulary estimate
  with Good-Turing coverage, per language.

Determinism contract as round10/round10b/round10c.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import text as _text
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql
from .round10 import _sh_sql

# ---------------------------------------------------------------------------
# X736 — HDR-histogram quantiles with measured error
# ---------------------------------------------------------------------------

# HdrHistogram bucketing with 3 sub-bucket bits: e = MSB position via
# EXACT integer base-2 digit length (no float log2 — floor(log2(2^k))
# can land on k-1 in FP), sub = the next 3 bits, representative value
# = the bucket's lower bound.
_HDR_QS = (50, 90, 99)

_HDR_ORACLE = f"""
    WITH pts AS (
      SELECT greatest(CAST(round(value * 100) AS BIGINT), 1) AS c
      FROM events),
    bucketed AS (
      SELECT c, length(bin(c)) - 1 AS e,
             CASE WHEN length(bin(c)) - 1 >= 3
                  THEN (c >> (length(bin(c)) - 1 - 3)) & 7
                  ELSE 0 END AS sub
      FROM pts),
    hist AS (
      SELECT e, sub, CAST(count(*) AS BIGINT) AS cnt,
             CASE WHEN e >= 3 THEN ((sub + 8) << (e - 3))
                  ELSE (1 << e) END AS rep
      FROM bucketed GROUP BY e, sub),
    cum AS (
      SELECT e, sub, rep, cnt,
             sum(cnt) OVER (ORDER BY e, sub
                            ROWS UNBOUNDED PRECEDING) AS cc,
             sum(cnt) OVER () AS n
      FROM hist),
    exact AS (
      SELECT c, row_number() OVER (ORDER BY c) AS rk,
             count(*) OVER () AS n
      FROM pts),
    qs AS (SELECT unnest([{', '.join(str(q) for q in _HDR_QS)}]) AS q),
    est AS (
      SELECT q.q, min(cu.rep) AS est_rep
      FROM qs q JOIN cum cu
        ON 100 * cu.cc >= q.q * cu.n
      GROUP BY q.q),
    exq AS (
      SELECT q.q, min(ex.c) AS exact_c
      FROM qs q JOIN exact ex
        ON 100 * ex.rk >= q.q * ex.n
      GROUP BY q.q)
    SELECT CAST(e.q AS BIGINT) AS q,
           est_rep / 100.0 AS hdr_estimate,
           exact_c / 100.0 AS exact_value,
           {_half_up_sql('1000000 * abs(est_rep - exact_c)',
                         'greatest(exact_c, 1)')} / 1000000.0
             AS rel_error
    FROM est e JOIN exq x ON x.q = e.q
    ORDER BY e.q
    """


@query("q_hdr_quantiles", oracle=_HDR_ORACLE)
def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X736 — HdrHistogram-style quantiles (Tene's HdrHistogram, the
    latency-SLO industry standard): log-bucketed counts with 3
    sub-bucket bits give p50/p90/p99 from a FIXED-SIZE mergeable
    histogram at ≤ 1/8 relative error — reported here side-by-side
    with the exact order statistic and the realized relative error
    (the X723/X724 "sketch with its error meter" pattern). The MSB
    position comes from the EXACT integer base-2 digit length (bin()/
    conv() string length — float log2 would misplace powers of two).

    Scale: histogram = one combinable aggregate into O(64·8) cells,
    mergeable across partitions/streams by construction; the exact
    side (audit only) is one sort."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(1)).alias(
            "c"
        )
    )
    eb = (F.length(F.conv(F.col("c").cast("string"), 10, 2)) - 1).alias("e")
    bucketed = pts.select("c", eb).select(
        "c",
        "e",
        F.when(
            F.col("e") >= 3,
            F.expr("(c >> (e - 1 - 2)) & 7").cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("sub"),
    )
    hist = bucketed.groupBy("e", "sub").agg(
        F.count("*").cast("long").alias("cnt")
    ).withColumn(
        "rep",
        F.when(
            F.col("e") >= 3, F.expr("(sub + 8) << (e - 3)").cast("long")
        ).otherwise(F.expr("1 << e").cast("long")),
    )
    wcum = W.orderBy("e", "sub").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("e", "sub").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = hist.select(
        "rep",
        F.sum("cnt").over(wcum).alias("cc"),
        F.sum("cnt").over(wall).alias("n"),
    )
    wex = W.orderBy("c")
    exact = pts.select(
        "c",
        F.row_number().over(wex).alias("rk"),
        F.count("*").over(
            W.orderBy("c").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
    )
    qs = local_frame(spark, [(q,) for q in _HDR_QS], "q long")
    est = (
        qs.join(cum, 100 * F.col("cc") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("rep").alias("est_rep"))
    )
    exq = (
        qs.join(exact, 100 * F.col("rk") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("c").alias("exact_c"))
    )
    return (
        est.join(exq, "q")
        .select(
            F.col("q").cast("long").alias("q"),
            (F.col("est_rep") / 100.0).alias("hdr_estimate"),
            (F.col("exact_c") / 100.0).alias("exact_value"),
            (
                _half_up_col(
                    "1000000 * abs(est_rep - exact_c)",
                    "greatest(exact_c, 1)",
                )
                / 1000000.0
            ).alias("rel_error"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# X737 — Jelinek-Mercer interpolation weight by held-out EM
# ---------------------------------------------------------------------------

_JM_ITERS = 3
_JM_HOLD = 5  # doc_id % 5 == 0 → held out


def _jm_tables_sql() -> str:
    return f"""
    toks AS (
      SELECT doc_id, {_text.tokens_sql('text')} AS t FROM documents),
    train_uni AS (
      SELECT u.tok, CAST(count(*) AS BIGINT) AS c
      FROM toks, unnest(t) AS u(tok)
      WHERE doc_id % {_JM_HOLD} <> 0 GROUP BY u.tok),
    train_n AS (SELECT sum(c) AS n FROM train_uni),
    train_bi AS (
      SELECT h, w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT t[CAST(i + 1 AS INT)] AS h, t[CAST(i + 2 AS INT)] AS w
            FROM toks, unnest(range(len(t) - 1)) AS r(i)
            WHERE doc_id % {_JM_HOLD} <> 0)
      GROUP BY h, w),
    train_h AS (SELECT h, sum(c) AS ch FROM train_bi GROUP BY h),
    held AS (
      SELECT h, w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT t[CAST(i + 1 AS INT)] AS h, t[CAST(i + 2 AS INT)] AS w
            FROM toks, unnest(range(len(t) - 1)) AS r(i)
            WHERE doc_id % {_JM_HOLD} = 0)
      GROUP BY h, w),
    ev AS (
      SELECT hd.cnt,
             coalesce(tb.c, 0) * 1.0 / th.ch AS pbi,
             tu.c * 1.0 / tn.n AS puni
      FROM held hd
      JOIN train_uni tu ON tu.tok = hd.w
      JOIN train_h th ON th.h = hd.h
      LEFT JOIN train_bi tb ON tb.h = hd.h AND tb.w = hd.w
      CROSS JOIN train_n tn)"""


def _jm_step_sql(k: int) -> str:
    lam = f"(l{k}.lam / 1000000.0)"
    return f"""
    r{k} AS (
      SELECT sum(ev.cnt) AS n,
             sum(ev.cnt * CAST(round(1000000.0 *
               ({lam} * ev.pbi)
               / ({lam} * ev.pbi + (1.0 - {lam}) * ev.puni))
               AS BIGINT)) AS rsum
      FROM ev CROSS JOIN l{k}),
    l{k + 1} AS (
      SELECT CAST({_sh_sql('r.rsum', 'r.n')} AS BIGINT) AS lam
      FROM r{k} r)"""


def _jm_oracle() -> str:
    steps = "".join("," + _jm_step_sql(k) for k in range(_JM_ITERS))
    last = _JM_ITERS
    lam = f"(l.lam / 1000000.0)"
    return f"""
    WITH {_jm_tables_sql()},
    l0 AS (SELECT CAST(500000 AS BIGINT) AS lam)
    {steps}
    SELECT l.lam / 1000000.0 AS lam,
           CAST(sum(ev.cnt) AS BIGINT) AS n_tokens,
           {_sh_sql(
               'sum(ev.cnt * CAST(round(1000000.0 * ln('
               + lam + ' * ev.pbi + (1.0 - ' + lam
               + ') * ev.puni)) AS BIGINT))',
               'sum(ev.cnt)')} / 1000000.0 AS avg_logprob
    FROM ev CROSS JOIN l{last} l
    GROUP BY l.lam
    """


@query("q_jelinek_mercer", oracle=_jm_oracle())
def q_jelinek_mercer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X737 — Jelinek-Mercer interpolation (the 1980 mixture that
    started smoothing): P(w|h) = λ·P_ML(w|h) + (1−λ)·P_ML(w), with λ
    fitted by EM on a DETERMINISTIC held-out split (doc_id % 5 == 0)
    — the deleted-interpolation recipe, and the third smoothing
    family next to X-Kneser-Ney and X-stupid-backoff (JM is what you
    tune when the corpus is too small for KN's discount assumptions).
    Each EM round: responsibility of the bigram component per
    held-out token, quantized micro PER (h,w) CELL before the
    weighted mean (X708 discipline); λ is an integer-micro scalar.
    Held-out bigrams whose history or word is unseen in train are
    excluded (both engines, same rule).

    Scale: count tables are combinable explode-counts; each EM round
    is one distributed aggregate collecting ONE scalar (X687 split).

    Report: fitted λ, held-out token count, avg held-out log-prob."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _text.tokens(F.col("text")).alias("t"))
    train = toks.filter(F.col("doc_id") % _JM_HOLD != 0)
    heldd = toks.filter(F.col("doc_id") % _JM_HOLD == 0)
    train_uni = (
        train.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_train = train_uni.agg(F.sum("c")).collect()[0][0]

    def bigrams(df):
        return (
            df.filter(F.size("t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(t) - 2), "
                        "i -> struct(t[i] AS h, t[i + 1] AS w))"
                    )
                ).alias("hw")
            )
            .select(F.col("hw.h").alias("h"), F.col("hw.w").alias("w"))
            .groupBy("h", "w")
            .agg(F.count("*").cast("long").alias("c"))
        )

    train_bi = bigrams(train)
    train_h = train_bi.groupBy("h").agg(F.sum("c").alias("ch"))
    held = bigrams(heldd).withColumnRenamed("c", "cnt")
    ev = (
        held.join(
            train_uni.select(F.col("tok").alias("w"), F.col("c").alias("cu")),
            "w",
        )
        .join(train_h, "h")
        .join(
            train_bi.select("h", "w", F.col("c").alias("cb")),
            ["h", "w"],
            "left",
        )
        .select(
            "cnt",
            (F.coalesce("cb", F.lit(0)) * 1.0 / F.col("ch")).alias("pbi"),
            (F.col("cu") * 1.0 / F.lit(float(n_train))).alias("puni"),
        )
        .localCheckpoint(eager=True)
    )

    def sh(a: int, b: int) -> int:
        m = (2 * abs(a) + b) // (2 * b)
        return m if a >= 0 else -m

    lam = 500000
    for _ in range(_JM_ITERS):
        lf = lam / 1000000.0
        r = ev.agg(
            F.sum("cnt").alias("n"),
            F.sum(
                F.col("cnt")
                * F.round(
                    1000000.0
                    * (F.lit(lf) * F.col("pbi"))
                    / (
                        F.lit(lf) * F.col("pbi")
                        + (1.0 - F.lit(lf)) * F.col("puni")
                    )
                ).cast("long")
            ).alias("rsum"),
        ).collect()[0]
        lam = sh(int(r["rsum"]), int(r["n"]))
    lf = lam / 1000000.0
    fin = ev.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(
            F.col("cnt")
            * F.round(
                1000000.0
                * F.log(
                    F.lit(lf) * F.col("pbi")
                    + (1.0 - F.lit(lf)) * F.col("puni")
                )
            ).cast("long")
        ).alias("lsum"),
    ).collect()[0]
    avg_lp = sh(int(fin["lsum"]), int(fin["n_tokens"])) / 1000000.0
    return local_frame(
        spark,
        [(lam / 1000000.0, int(fin["n_tokens"]), avg_lp)],
        "lam double, n_tokens long, avg_logprob double",
    )


# ---------------------------------------------------------------------------
# X738 — Chao1 unseen-vocabulary estimate + Good-Turing coverage
# ---------------------------------------------------------------------------

_CHAO_ORACLE = f"""
    WITH cnt AS (
      SELECT lang, u.tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT lang, {_text.tokens_sql('text')} AS t FROM documents),
           unnest(t) AS u(tok)
      GROUP BY lang, u.tok),
    agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM cnt GROUP BY lang)
    SELECT lang, v AS vocab, n AS n_tokens, f1, f2,
           v + CASE WHEN f2 > 0
                    THEN {_half_up_sql('1000000 * f1 * f1', '2 * f2')}
                    ELSE {_half_up_sql('1000000 * f1 * (f1 - 1)', '2')}
               END / 1000000.0 AS chao1,
           1.0 - {_half_up_sql('1000000 * f1', 'n')} / 1000000.0
             AS coverage
    FROM agg ORDER BY lang
    """


@query("q_chao1", oracle=_CHAO_ORACLE)
def q_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X738 — Chao1 richness estimator (Chao 1984) + Good-Turing
    sample coverage, per language: how many vocabulary types exist
    that the corpus has NOT yet seen (chao1 − V ≈ F1²/2F2, from the
    hapax/dis-legomena ratio) and what fraction of the next token's
    probability mass is already covered (C = 1 − F1/N). The pair
    answers the practical crawl question "is more data from this
    language still buying new vocabulary" — the diminishing-returns
    complement to X-Heaps-law's growth exponent.

    Determinism: all counts exact integers; the two ratios are
    half-up micro divisions.

    Scale: one combinable (lang, token) count + a counts-of-counts
    rollup — corpus-linear, vocabulary-sized state."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(_text.tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = cnt.groupBy("lang").agg(
        F.count("*").cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return agg.select(
        "lang",
        F.col("v").alias("vocab"),
        F.col("n").alias("n_tokens"),
        "f1",
        "f2",
        (
            F.col("v")
            + F.when(
                F.col("f2") > 0,
                _half_up_col("1000000 * f1 * f1", "2 * f2"),
            ).otherwise(_half_up_col("1000000 * f1 * (f1 - 1)", "2"))
            / 1000000.0
        ).alias("chao1"),
        (1.0 - _half_up_col("1000000 * f1", "n") / 1000000.0).alias(
            "coverage"
        ),
    ).orderBy("lang")
