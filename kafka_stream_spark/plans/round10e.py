"""Round-10 batch E (X739+): series complexity, cluster-robust
inference, decision thresholds, and boilerplate detection.

Reference scope note: §2.13 mandate extensions, reference-free.

- X739 q_permutation_entropy: ordinal-pattern (m=3) entropy per
  arena — the model-free "how predictable is this stream" meter.
- X740 q_cluster_se: OLS slope with Liang-Zeger cluster-robust
  standard errors vs the iid SE — the design-effect audit.
- X741 q_f1_threshold: F1-optimal decision threshold by exact
  suffix-sum scan.
- X742 q_boilerplate_prefix: modal leading-token-prefix share per
  source (C4-style template/boilerplate detector).

Determinism contract as the other round-10 batches.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.hashing import token_hash, token_hash_sql
from ..functions import text as _text
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query
from .round9b import _half_up_col, _half_up_sql
from .round10 import _sh_sql

_LN6_6 = 1791759  # round(1e6 * ln 6)

# ---------------------------------------------------------------------------
# X739 — permutation (ordinal-pattern) entropy per arena
# ---------------------------------------------------------------------------

_PE_ORACLE = f"""
    WITH seq AS (
      SELECT event_type, value,
             lead(value, 1) OVER w AS v1,
             lead(value, 2) OVER w AS v2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    pat AS (
      SELECT event_type,
             4 * (CASE WHEN v1 < value THEN 1 ELSE 0 END)
             + 2 * (CASE WHEN v2 < value THEN 1 ELSE 0 END)
             + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END) AS code
      FROM seq WHERE v2 IS NOT NULL),
    hist AS (
      SELECT event_type, code, CAST(count(*) AS BIGINT) AS c,
             sum(count(*)) OVER (PARTITION BY event_type) AS n
      FROM pat GROUP BY event_type, code),
    terms AS (
      SELECT event_type, n,
             CAST(round(1000000.0 * (c * 1.0 / n) * ln(n * 1.0 / c))
                  AS BIGINT) AS t6
      FROM hist)
    SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_triples,
           {_half_up_sql('1000000 * sum(t6)', str(_LN6_6))} / 1000000.0
             AS perm_entropy
    FROM terms GROUP BY event_type ORDER BY event_type
    """


@query("q_permutation_entropy", oracle=_PE_ORACLE)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X739 — permutation entropy (Bandt-Pompe 2002): the entropy of
    order-m ordinal patterns (m = 3, positional tie-break: an equal
    later value does NOT count as smaller) in each arena's value
    stream, normalized by ln 6 — the standard model-free complexity
    measure (≈1 for white noise, low for trends/periodicity), robust
    to monotone transforms because it sees only ORDER. The
    stream-quality cousin of X-autocorr that needs no lag choice.

    Determinism: pattern codes are integer comparisons; per-pattern
    entropy terms quantized micro from exact integer ratios (≤ 8
    cells per arena) before the sum; one half-up normalization.

    Scale: two leads in one window pass + an 8-cell-per-arena
    aggregate."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "value",
        F.lead("value", 1).over(w).alias("v1"),
        F.lead("value", 2).over(w).alias("v2"),
    ).filter(F.col("v2").isNotNull())
    pat = seq.select(
        "event_type",
        (
            4 * (F.col("v1") < F.col("value")).cast("int")
            + 2 * (F.col("v2") < F.col("value")).cast("int")
            + (F.col("v2") < F.col("v1")).cast("int")
        ).alias("code"),
    )
    hist = pat.groupBy("event_type", "code").agg(
        F.count("*").cast("long").alias("c")
    ).withColumn(
        "n", F.sum("c").over(W.partitionBy("event_type"))
    )
    terms = hist.select(
        "event_type",
        "n",
        F.round(
            1000000.0
            * (F.col("c") * 1.0 / F.col("n"))
            * F.log(F.col("n") * 1.0 / F.col("c"))
        )
        .cast("long")
        .alias("t6"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.first("n").cast("long").alias("n_triples"),
            (
                _half_up_col("1000000 * sum(t6)", str(_LN6_6)) / 1000000.0
            ).alias("perm_entropy"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# X740 — OLS with cluster-robust (Liang-Zeger) standard errors
# ---------------------------------------------------------------------------

_CSE_ORACLE = f"""
    WITH pts AS (
      SELECT user_id AS cl, CAST(user_id % 10 AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM pts),
    fit AS (
      SELECT n, sx,
             {_sh_sql('1000000 * (n * sxy - sx * sy)',
                      '(n * sxx - sx * sx)')} AS b6,
             {_sh_sql('1000000 * (sy * sxx - sx * sxy)',
                      '(n * sxx - sx * sx)')} AS a6,
             {_sh_sql('1000000 * sx', 'n')} AS xbar6
      FROM mom),
    res AS (
      SELECT p.cl,
             CAST({_sh_sql('1000000 * p.y - (f.b6 * p.x + f.a6)', '1000')}
                  AS BIGINT) AS e3,
             CAST({_sh_sql('1000000 * p.x - f.xbar6', '1000')}
                  AS BIGINT) AS u3
      FROM pts p CROSS JOIN fit f),
    rows_ AS (
      SELECT cl, u3 * e3 AS t, e3 * e3 AS e2, u3 * u3 AS u2
      FROM res),
    clus AS (
      SELECT cl, sum(t) AS ct FROM rows_ GROUP BY cl),
    agg AS (
      SELECT (SELECT sum(CAST(ct AS HUGEINT) * ct) FROM clus) AS vnum,
             (SELECT CAST(count(*) AS BIGINT) FROM clus) AS ncl,
             CAST(sum(e2) AS HUGEINT) AS se2,
             CAST(sum(u2) AS HUGEINT) AS su2,
             CAST(count(*) AS BIGINT) AS n
      FROM rows_)
    SELECT f.b6 / 1000000.0 AS slope,
           round(sqrt((CAST(a.se2 AS DOUBLE) / (a.n - 2))
                      / CAST(a.su2 AS DOUBLE)), 6) AS se_iid,
           round(sqrt(CAST(a.vnum AS DOUBLE)) / CAST(a.su2 AS DOUBLE), 6)
             AS se_cluster,
           round(pow((sqrt(CAST(a.vnum AS DOUBLE))
                      / CAST(a.su2 AS DOUBLE))
                     / sqrt((CAST(a.se2 AS DOUBLE) / (a.n - 2))
                            / CAST(a.su2 AS DOUBLE)), 2), 6)
             AS design_effect,
           a.n, a.ncl AS n_clusters
    FROM agg a CROSS JOIN fit f
    """


@query("q_cluster_se", oracle=_CSE_ORACLE)
def q_cluster_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X740 — cluster-robust (Liang-Zeger / CR0) standard errors for
    the OLS slope, vs the iid SE — THE correction every A/B platform
    applies when randomization is by user but observations are
    events: within-user correlation inflates the true variance by the
    design effect, and iid SEs overstate significance. Clusters =
    users, x = user bucket, y = value cents.

    Two-pass exactness: pass 1 collects 5 integer moments (closed-
    form b, a, x̄ as micro half-up ratios in Python bigints /
    HUGEINT); pass 2 quantizes residual/centered-x to MILLI ints
    (e3, u3 — per-row products then fit int64), reduces per-cluster
    sums in int64 and the three quadratic totals in int128
    (decimal(38,0) on the Spark side, HUGEINT in DuckDB); the final
    square roots are libm on identical doubles, rounded 6. The 1e3²
    scales cancel inside each ratio, so no unit constants leak into
    the output.

    Scale: two combinable aggregates + one per-cluster rollup; no
    driver state beyond 5 integers."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        F.col("user_id").alias("cl"),
        (F.col("user_id") % 10).cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).collect()[0]
    n, sx, sy = int(m["n"]), int(m["sx"]), int(m["sy"])
    sxy, sxx = int(m["sxy"]), int(m["sxx"])

    def sh(a: int, b: int) -> int:
        mm = (2 * abs(a) + b) // (2 * b)
        return mm if a >= 0 else -mm

    den = n * sxx - sx * sx
    b6 = sh(1000000 * (n * sxy - sx * sy), den)
    a6 = sh(1000000 * (sy * sxx - sx * sxy), den)
    xbar6 = sh(1000000 * sx, n)
    res = pts.select(
        "cl",
        F.expr(
            _sh_sql(
                f"1000000 * y - ({b6} * x + cast({a6} as bigint))", "1000"
            ).replace("//", "div")
        ).alias("e3"),
        F.expr(
            _sh_sql(f"1000000 * x - cast({xbar6} as bigint)", "1000").replace(
                "//", "div"
            )
        ).alias("u3"),
    )
    rows = res.select(
        "cl",
        (F.col("u3") * F.col("e3")).alias("t"),
        (F.col("e3") * F.col("e3")).alias("e2"),
        (F.col("u3") * F.col("u3")).alias("u2"),
    )
    clus = rows.groupBy("cl").agg(F.sum("t").alias("ct"))
    a = rows.agg(
        F.sum(F.col("e2").cast("decimal(38,0)")).alias("se2"),
        F.sum(F.col("u2").cast("decimal(38,0)")).alias("su2"),
    ).collect()[0]
    c = clus.agg(
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct")
        ).alias("vnum"),
        F.count("*").alias("ncl"),
    ).collect()[0]
    se2, su2 = int(a["se2"]), int(a["su2"])
    vnum, ncl = int(c["vnum"]), int(c["ncl"])
    se_iid_raw = math.sqrt((float(se2) / (n - 2)) / float(su2))
    se_c_raw = math.sqrt(float(vnum)) / float(su2)
    return local_frame(
        spark,
        [
            (
                b6 / 1000000.0,
                round(se_iid_raw, 6),
                round(se_c_raw, 6),
                round((se_c_raw / se_iid_raw) ** 2, 6),
                n,
                ncl,
            )
        ],
        "slope double, se_iid double, se_cluster double, "
        "design_effect double, n long, n_clusters long",
    )


# ---------------------------------------------------------------------------
# X741 — F1-optimal decision threshold
# ---------------------------------------------------------------------------

_F1_ORACLE = f"""
    WITH raw AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS s,
             CASE WHEN ({token_hash_sql('props')}) % 10000
                  < CAST(round(value * 100) AS BIGINT)
                  THEN 1 ELSE 0 END AS y
      FROM events),
    cell AS (
      SELECT s, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS pos
      FROM raw GROUP BY s),
    tot AS (SELECT sum(pos) AS p, sum(c) AS nn FROM cell),
    scan AS (
      SELECT s,
             sum(pos) OVER (ORDER BY s DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
             sum(c) OVER (ORDER BY s DESC
                          ROWS UNBOUNDED PRECEDING) AS npred
      FROM cell),
    scored AS (
      SELECT sc.s, sc.tp, sc.npred - sc.tp AS fp, t.p - sc.tp AS fn,
             CAST(round(1000000.0 * 2 * sc.tp
                        / (sc.npred + t.p)) AS BIGINT) AS f16
      FROM scan sc CROSS JOIN tot t)
    SELECT s / 100.0 AS threshold, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           f16 / 1000000.0 AS f1
    FROM scored ORDER BY f16 DESC, s DESC LIMIT 1
    """


@query("q_f1_threshold", oracle=_F1_ORACLE)
def q_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X741 — F1-optimal decision threshold: sweep every candidate
    cutoff (predict positive iff score ≥ t) and pick the one
    maximizing F1 = 2TP/(2TP+FP+FN) = 2TP/(#pred + #pos) — the
    standard operating-point choice for an imbalanced quality
    classifier once X727 has calibrated it (complements X-ROC/PR
    curves, which SHOW the trade-off but don't pick the point).
    Suffix sums down the descending score support make every
    confusion cell exact; the argmax is an integer-quantized F1 with
    a deterministic highest-threshold tiebreak.

    Scale: support bounded by score quantization; one combinable
    histogram + one window scan."""
    e = load(spark, sf_dir, "events")
    s = F.round(F.col("value") * 100).cast("long")
    raw = e.select(
        s.alias("s"),
        ((token_hash(F.col("props")) % 10000) < s).cast("int").alias("y"),
    )
    cell = raw.groupBy("s").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = cell.agg(F.sum("pos").alias("p"), F.sum("c").alias("nn")).collect()[
        0
    ]
    p = int(tot["p"])
    wd = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, 0)
    scan = cell.select(
        "s",
        F.sum("pos").over(wd).alias("tp"),
        F.sum("c").over(wd).alias("npred"),
    )
    scored = scan.select(
        "s",
        "tp",
        (F.col("npred") - F.col("tp")).alias("fp"),
        (F.lit(p) - F.col("tp")).alias("fn"),
        F.round(1000000.0 * 2 * F.col("tp") / (F.col("npred") + F.lit(p)))
        .cast("long")
        .alias("f16"),
    )
    return (
        scored.orderBy(F.desc("f16"), F.desc("s"))
        .limit(1)
        .select(
            (F.col("s") / 100.0).alias("threshold"),
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            F.col("fn").cast("long").alias("fn"),
            (F.col("f16") / 1000000.0).alias("f1"),
        )
    )


# ---------------------------------------------------------------------------
# X742 — boilerplate / template detection via modal leading prefix
# ---------------------------------------------------------------------------

_BP_K = 5  # prefix length in tokens

_BP_ORACLE = f"""
    WITH pre AS (
      SELECT source,
             array_to_string(list_slice({_text.tokens_sql('text')},
                                        1, {_BP_K}), ' ') AS prefix
      FROM documents),
    cnt AS (
      SELECT source, prefix, CAST(count(*) AS BIGINT) AS c
      FROM pre GROUP BY source, prefix),
    tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt
      GROUP BY source),
    modal AS (
      SELECT source, prefix, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c DESC, prefix) AS rk
      FROM cnt)
    SELECT m.source, t.n AS n_docs, m.prefix AS modal_prefix,
           CAST(m.c AS BIGINT) AS n_modal,
           {_half_up_sql('1000000 * m.c', 't.n')} / 1000000.0
             AS modal_share
    FROM modal m JOIN tot t ON t.source = m.source
    WHERE m.rk = 1 ORDER BY m.source
    """


@query("q_boilerplate_prefix", oracle=_BP_ORACLE)
def q_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X742 — boilerplate/template detection: per source, the modal
    {_BP_K}-token leading prefix and its document share — the C4/
    RefinedWeb-style signal for scraped templates ("Sign in to
    continue…", cookie banners, licence headers) that near-dedup
    misses because the BODIES differ. A modal share ≫ 1/vocab flags
    the source for prefix-stripping before training. Deterministic
    modal pick: count desc, then lexicographic.

    Scale: one prefix projection (no explode — slice of the token
    array) + combinable counts + a per-source top-1 window over
    prefix-vocabulary-sized rows."""
    docs = load(spark, sf_dir, "documents")
    pre = docs.select(
        "source",
        F.array_join(
            F.slice(_text.tokens(F.col("text")), 1, _BP_K), " "
        ).alias("prefix"),
    )
    cnt = pre.groupBy("source", "prefix").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    wr = W.partitionBy("source").orderBy(F.desc("c"), "prefix")
    modal = cnt.withColumn("rk", F.row_number().over(wr)).filter(
        F.col("rk") == 1
    )
    return (
        modal.join(tot, "source")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("prefix").alias("modal_prefix"),
            F.col("c").alias("n_modal"),
            (_half_up_col("1000000 * c", "n") / 1000000.0).alias(
                "modal_share"
            ),
        )
        .orderBy("source")
    )
