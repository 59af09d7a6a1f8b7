"""Statistical language-model operators for training-data curation
(round 3 extensions X167-X170).

The standard web-scale pipeline (CCNet, RefinedWeb, Dolma — all public)
filters documents by n-gram LM perplexity, induces tokenizer vocab from
pair frequencies, and extracts salient terms per document. These are the
same corpus-statistics shapes the engine already runs (token explode →
count shuffle → broadcast-back), composed into four new oracled
operators:

* ``q_bigram_lm`` — train an add-one-smoothed bigram LM over the corpus
  and score every document by average negative log2 probability (the
  perplexity filter). Two aggregation passes over exploded bigrams plus
  one join back; the LM table shuffles on the bigram key, documents
  re-join on the same key, so at 100 TB the heavy stage is one
  well-partitioned count shuffle, not a model broadcast.
* ``q_bpe_pairs`` — one BPE induction step: the 20 most frequent
  adjacent character pairs inside tokens. Map-side explode to
  (pair, count) then a single combinable count shuffle.
* ``q_winsorize`` — clip a metric at its global P05/P95 and report
  per-group means before/after: the standard heavy-tail guard before
  any threshold tuning. Quantiles are a two-row broadcast; the clip is
  a pure projection.
* ``q_keywords`` — top-3 TF-IDF terms per document, tie-broken
  alphabetically, array_join'd scalar output. IDF is a broadcast dim
  (vocab-sized); per-doc ranking is a window over the doc's own terms,
  partitioned by doc_id — no global sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text
from ..session import default_parallelism
from ..sources.tables import load
from .registry import query


def bigram_rows(d: DataFrame, *carry: str) -> DataFrame:
    """(carry…, w1, w2) — adjacent token pairs of each document row."""
    toks = d.select(*carry, text.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    return toks.select(
        *carry,
        F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("pos", "w1"),
        F.col("t"),
    ).select(
        *carry, "w1", F.element_at("t", F.col("pos") + 2).alias("w2")
    )


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) — adjacent token pairs per document."""
    return bigram_rows(load(spark, sf_dir, "documents"), "doc_id")


_BIGRAMS_SQL = f"""
    tok AS (
      SELECT doc_id, {text.tokens_sql('text')} AS t FROM documents
      WHERE len({text.tokens_sql('text')}) >= 2
    ),
    bg AS (
      SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1,
             unnest(t[2:len(t)]) AS w2
      FROM tok
    )
"""


@query(
    "q_bigram_lm",
    oracle=f"""
    WITH {_BIGRAMS_SQL},
    c2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
    scored AS (
      SELECT b.doc_id,
             -log2((c2.c12 + 1.0) / (c1.c1 + v.vocab)) AS nll
      FROM bg b
      JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(nll), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167 — bigram-LM perplexity scoring: train add-one-smoothed
    bigram probabilities P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) over the
    whole corpus, then score each document by its mean -log2 P — the
    CCNet-style quality signal (high avg_nll ⇒ unusual text).

    Plan: one bigram explode feeds three aggregations (pair counts,
    unigram counts, vocab scalar) and the scoring join; pair and
    unigram counts are partial-aggregated map-side before their
    shuffles, the vocab is a broadcast scalar, and scoring re-joins on
    the same (w1, w2) keys the counts shuffled on. Documents and model
    co-partition, so the 100 TB cost is two count shuffles + one
    re-join — no driver-side model."""
    bg = _doc_bigrams(spark, sf_dir)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bg.agg(F.countDistinct("w2").alias("vocab"))
    nll = -F.log2(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vocab"))
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


@query(
    "q_bpe_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({text.tokens_sql('text')}) AS w FROM documents
    ),
    pairs AS (
      SELECT substring(w, i + 1, 2) AS pair
      FROM tok, unnest(range(length(w) - 1)) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168 — BPE vocabulary induction, step one: the 20 most frequent
    adjacent character pairs inside tokens (exactly what a byte-pair
    tokenizer would merge first; iterating this query IS BPE training).

    Plan: explode each token into its length-2 substrings map-side,
    then ONE combinable count shuffle on the pair key (≤ a few thousand
    distinct pairs, so partial aggregation collapses almost everything
    before the wire); deterministic (count DESC, pair ASC) top-20."""
    d = load(spark, sf_dir, "documents")
    w = d.select(F.explode(text.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "q_winsorize",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events
    )
    SELECT event_type,
           round(avg(value), 6) AS mean_raw,
           round(avg(least(greatest(value, q.lo), q.hi)), 6) AS mean_wins,
           round(CAST(sum(CASE WHEN value < q.lo OR value > q.hi
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS clipped_frac
    FROM events, q
    GROUP BY event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169 — winsorized statistics: clip the metric at global P05/P95
    (exact percentile_cont), report raw vs clipped means and the
    clipped fraction per group — the heavy-tail guard run before any
    mean-based threshold is trusted.

    Plan: the quantile pair is one exact-percentile aggregation
    reduced to a single broadcast row; the clip itself is a pure
    projection feeding a combinable group-agg — at 100 TB this is one
    stats pass + one map-side-combined shuffle, the same shape as
    q_robust_scale."""
    e = load(spark, sf_dir, "events")
    q = e.agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    out_of = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        e.crossJoin(F.broadcast(q))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clipped), 6).alias("mean_wins"),
            F.round(
                F.sum(out_of.cast("double")) / F.count("*"), 6
            ).alias("clipped_frac"),
        )
    )


#: inverted-list length cap: terms appearing in more documents than this
#: are dropped from the similarity join (stop-term cut) — THE lever that
#: bounds the per-term fan-out at any corpus size
_DF_MAX = 50
_COS_TAU = 0.35


@query(
    "q_tfidf_cosine",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({text.tokens_sql('text')}) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    wt AS (
      SELECT tf.doc_id, tf.w,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS wgt
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
      WHERE df.df <= {_DF_MAX}
    ),
    nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nrm FROM wt GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.wgt * b.wgt) AS dot
      FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nrm * nb.nrm) >= {_COS_TAU}
    """,
)
def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176 — sparse TF-IDF cosine similarity join via an INVERTED
    INDEX: doc pairs whose tf·idf vectors have cosine ≥ τ, computed by
    joining postings on the term key and summing weight products — the
    lexical complement of the dense-embedding ANN family (X14/X30) and
    the set-based Jaccard family (X16/X68).

    Scale design: the stop-term cut (df ≤ {_DF_MAX}) bounds every
    inverted list, so the term self-join fans out O(df²) per term with
    df capped — the standard bound that keeps text similarity joins
    tractable at corpus scale (high-df terms carry ~zero idf weight
    anyway, so the cut loses nothing the threshold would keep). Norms
    are computed over the SAME pruned vectors on both engines; weights
    shuffle on the term key, pair dots on the (doc_a, doc_b) key."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    wt = (
        tf.join(df.filter(F.col("df") <= _DF_MAX), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("wgt"),
        )
    )
    nrm = wt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wgt") * F.col("wgt"))).alias("nrm")
    )
    a, b = wt.alias("a"), wt.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.wgt") * F.col("b.wgt")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= _COS_TAU)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


@query(
    "q_impute",
    oracle="""
    WITH masked AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS grp_med
      FROM masked WHERE v IS NOT NULL GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           round(avg(coalesce(m.v, d.grp_med)), 6) AS mean_imputed,
           round(any_value(d.grp_med), 6) AS grp_med
    FROM masked m JOIN med d ON m.event_type = d.event_type
    GROUP BY m.event_type
    """,
)
def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177 — group-median null imputation: missing metric values (a
    deterministic event_id % 7 mask stands in for real nulls — the
    driver corpus has none) are filled with their group's exact median;
    the report shows imputation volume and the post-fill mean per group.

    Plan: medians are one exact-percentile aggregation on the group
    key; the fill is a same-key broadcast-or-shuffle join feeding a
    combinable aggregate — two shuffles total on one key, no row ever
    leaves its group partition."""
    e = load(spark, sf_dir, "events")
    masked = e.select(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = (
        masked.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(v, 0.5)").alias("grp_med"))
    )
    return (
        masked.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").isNull().cast("bigint")).alias("n_imputed"),
            F.round(F.avg(F.coalesce("v", "grp_med")), 6).alias("mean_imputed"),
            F.round(F.any_value("grp_med"), 6).alias("grp_med"),
        )
    )


@query(
    "q_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({text.tokens_sql('text')}) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
      SELECT tf.doc_id, tf.w,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS s
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, w,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, w) AS rn
      FROM scored
    )
    SELECT doc_id,
           array_to_string(list(w ORDER BY rn), ',') AS top_terms
    FROM ranked WHERE rn <= 3 GROUP BY doc_id
    """,
)
def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170 — per-document keyword extraction: top-3 terms by
    tf·idf (idf = ln((N+1)/(df+1)), ties broken alphabetically),
    emitted as one comma-joined scalar per doc.

    Plan: term frequencies shuffle on (doc_id, w); document
    frequencies are a vocab-sized side that joins back on the term key;
    ranking is a per-doc window (partitioned by doc_id — embarrassingly
    parallel, no global sort). Output carries 3 words per doc, so the
    final shuffle is tiny regardless of corpus size."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
            ).alias("s"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("w"))
    ranked = scored.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= 3
    )
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("rn", "w"))
            ).getField("w"),
            ",",
        ).alias("top_terms")
    )


#: PMI content band as FRACTIONS of corpus size — absolute DF bands do
#: not survive corpus growth (round-10 verdict: the old [5, 50] band
#: matched zero tokens on the testdata, making the gate vacuous).
#: Units are word BIGRAMS: the testdata's unigram DF distribution is
#: degenerate (every word in ~77% of docs) so bigrams carry the
#: collocation signal.  min-co stays absolute (a real evidence floor)
#: and the output is the deterministic top-K so the gate instance pins
#: a fixed-size non-trivial result at every SF.
_PMI_DF_LO, _PMI_DF_HI = 0.01, 0.50
_PMI_MIN_CO = 5
_PMI_TOP_K = 100


@query(
    "q_token_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {text.tokens_sql('text')} AS ts FROM documents
    ),
    tok AS (
      SELECT DISTINCT doc_id, ts[i] || '_' || ts[i+1] AS w
      FROM toks, unnest(range(1, len(ts))) AS r(i)
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    df AS (
      SELECT w, count(*) AS df FROM tok GROUP BY w
      HAVING count(*) >= {_PMI_DF_LO} * (SELECT n_docs FROM n)
         AND count(*) <= {_PMI_DF_HI} * (SELECT n_docs FROM n)
    ),
    ft AS (SELECT tok.doc_id, tok.w, df.df FROM tok JOIN df ON tok.w = df.w),
    co AS (
      SELECT a.w AS w1, b.w AS w2,
             count(*) AS n_ab,
             any_value(a.df) AS df1, any_value(b.df) AS df2
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
      HAVING count(*) >= {_PMI_MIN_CO}
    )
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           round(ln(n_ab * 1.0 * n.n_docs / (df1 * df2)), 6) AS pmi
    FROM co CROSS JOIN n
    ORDER BY n_ab DESC, w1, w2 LIMIT {_PMI_TOP_K}
    """,
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180 — bigram co-occurrence PMI: pointwise mutual information
    ln(P(a,b) / (P(a)P(b))) over document-level co-occurrence of
    content-band word bigrams — the collocation / related-term signal
    behind phrase mining and query expansion.  Reports the top-{_PMI_TOP_K}
    pairs by evidence with a deterministic (n_ab DESC, w1, w2) order.

    Scale design: the fractional df band [{_PMI_DF_LO}, {_PMI_DF_HI}]
    (of n_docs, so it tracks corpus growth) is applied BEFORE pairing,
    so the per-document self-join fans out over content bigrams only
    (stopword-grams would make it quadratic in doc length);
    co-occurrence counts shuffle on the (w1, w2) pair key with map-side
    combine, the doc-count scalar broadcasts, and the final top-K is a
    bounded single-stage TakeOrdered."""
    # fan out the single-split scan for the tokenize + bigram explode
    # (guide §2.6); the distinct doc-bigram table below feeds THREE
    # consumers (doc count, df band, pair join) and is materialized once
    toks = (
        load(spark, sf_dir, "documents")
        .repartition(default_parallelism())
        .select("doc_id", text.tokens(F.col("text")).alias("ts"))
    )
    ts = F.col("ts")
    bigrams = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.concat_ws(
                "_", F.element_at(ts, i), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # ACTUALLY materialize it (round 13): the r12 comment claimed this,
    # but without the checkpoint the tokenize+explode+distinct lineage
    # re-ran for every consumer — n_docs, the df rollup, and BOTH sides
    # of the pair self-join (guide §2.4 duplicated subtrees)
    tok = (
        toks.select("doc_id", F.explode(bigrams).alias("w"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = (
        tok.groupBy("w")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df") >= _PMI_DF_LO * F.col("n_docs"))
            & (F.col("df") <= _PMI_DF_HI * F.col("n_docs"))
        )
        .select("w", "df")
    )
    # df-banded and doc-keyed: small, and read twice by the self-join
    ft = (
        tok.join(df, "w")
        .select("doc_id", "w", "df")
        .localCheckpoint(eager=True)
    )
    a, b = ft.alias("a"), ft.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") < F.col("b.w")),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(
            F.count("*").alias("n_ab"),
            F.any_value(F.col("a.df")).alias("df1"),
            F.any_value(F.col("b.df")).alias("df2"),
        )
        .filter(F.col("n_ab") >= _PMI_MIN_CO)
    )
    pmi = F.log(
        F.col("n_ab") * F.lit(1.0) * F.col("n_docs")
        / (F.col("df1") * F.col("df2"))
    )
    return (
        co.crossJoin(F.broadcast(n))
        .select("w1", "w2", "n_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("n_ab"), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


@query(
    "q_vocab_drift",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS half, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''
    ), counts AS (
      SELECT tok,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
      FROM tok GROUP BY tok HAVING count(*) >= 5
    ), tot AS (
      SELECT sum(c0) AS t0, sum(c1) AS t1, count(*) AS v FROM counts
    ), probs AS (
      SELECT tok,
             (c0 + 1.0) / (t0 + v) AS p0,
             (c1 + 1.0) / (t1 + v) AS p1
      FROM counts CROSS JOIN tot
    )
    SELECT tok,
           round((p0 - p1) * ln(p0 / p1), 8) AS psi_term,
           round(sum((p0 - p1) * ln(p0 / p1)) OVER (), 6) AS psi_total
    FROM probs
    ORDER BY abs((p0 - p1) * ln(p0 / p1)) DESC, tok
    LIMIT 10
    """,
)
def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus halves: PSI over add-one-
    smoothed token distributions on the ≥5-occurrence vocabulary,
    reporting the 10 largest-drift terms plus the corpus-level PSI —
    the curation check that catches a scrape whose content silently
    changed (new boilerplate, language shift) before it poisons a
    training mix. One combinable token-count shuffle; the probability
    table is vocabulary-sized."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    counts = (
        tok.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        )
        .filter(F.col("c0") + F.col("c1") >= 5)
    )
    tot = counts.agg(
        F.sum("c0").alias("t0"),
        F.sum("c1").alias("t1"),
        F.count("*").alias("v"),
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        ((F.col("c0") + 1.0) / (F.col("t0") + F.col("v"))).alias("p0"),
        ((F.col("c1") + 1.0) / (F.col("t1") + F.col("v"))).alias("p1"),
    )
    term = (F.col("p0") - F.col("p1")) * F.log(F.col("p0") / F.col("p1"))
    w = Window.partitionBy()
    return (
        probs.withColumn("psi_term", F.round(term, 8))
        .withColumn("psi_total", F.round(F.sum(term).over(w), 6))
        .orderBy(F.abs(term).desc(), "tok")
        .limit(10)
        .select("tok", "psi_term", "psi_total")
    )
