"""Scale-path text similarity and information-theoretic quality scoring.

Two additions over llm_ext's dedup family (SURVEY.md §2.14 X14-X17):

* ``q_jaccard_prefix`` — an exact set-similarity self-join with PREFIX
  FILTERING (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08 "PPJoin"):
  order each doc's token set by global rarity, keep only the first
  ``n - ceil(t*n) + 1`` tokens, and generate candidate pairs from prefix
  collisions. Every pair with Jaccard ≥ t provably shares a prefix token,
  so the join is EXACT — same output as the O(n²) pairwise scan the
  DuckDB oracle runs — while the plan's pair space is only prefix-token
  collisions. This is the missing scale path between q_ngram_jaccard
  (exact but quadratic) and q_near_dedup (sub-quadratic but
  probabilistic).

* ``q_char_entropy`` — per-document character-level Shannon entropy, a
  standard training-data quality signal (gibberish/boilerplate detector):
  low-entropy docs are repetitive filler, suspiciously high entropy is
  often binary junk. Computed with the algebraic identity
  H = log2(n) - Σ c·log2(c) / n so one aggregation pass suffices.

Scale notes: prefix filtering's token-frequency table is tiny relative to
the corpus (vocabulary, not tokens) and broadcasts; the candidate join
shuffles only (prefix_token → doc) pairs — rare tokens first means the
hottest tokens never enter a prefix, which is also the skew story: the
high-df tokens that would make a token-join explode are exactly the ones
prefix ordering pushes out. Entropy is explode + two map-side-combinable
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text
from ..functions.hashing import MERSENNE_P, token_hash_sql
from ..sources.tables import load
from ..streaming.pipeline import Cells, StoreSpec
from .registry import query

#: Jaccard threshold for the prefix-filtered join (set similarity, on
#: distinct hashed tokens — 1-grams, vs q_ngram_jaccard's 3-gram shingles).
TAU = 0.95

_SETS_SQL = f"""(
  SELECT doc_id, list_distinct(list_transform(
    {text.tokens_sql('text')},
    t -> {token_hash_sql('t')} % {MERSENNE_P})) AS ts
  FROM documents)"""


@query(
    "q_jaccard_prefix",
    oracle=f"""
    WITH s AS (SELECT * FROM {_SETS_SQL}),
    e AS (SELECT doc_id, unnest(ts) AS tok, len(ts) AS n FROM s),
    i AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS o,
             any_value(a.n) AS na, any_value(b.n) AS nb
      FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(o * 1.0 / (na + nb - o), 6) AS jaccard
    FROM i
    WHERE o * 1.0 / (na + nb - o) >= {TAU}
    """,
)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-similarity self-join at threshold t via prefix
    filtering. Pipeline: hash tokens to int64 (portable md5, no string
    compares downstream) → global document-frequency table (vocabulary-
    sized, broadcast) → per-doc token list sorted rare-first by (df, tok)
    → slice the first ``n - ceil(t*n) + 1`` tokens → candidate pairs from
    prefix-token collisions → verify exact Jaccard on the full sets.

    The oracle brute-forces ALL qualifying pairs via a full token join;
    matching it proves the prefix filter lost nothing (completeness is
    the PPJoin prefix lemma; the gate re-proves it on this corpus)."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sets = d.select(
        "doc_id",
        F.array_distinct(text.hashed_tokens_mod(F.col("text"))).alias("ts"),
    ).persist()

    exploded = sets.select("doc_id", F.explode("ts").alias("tok"))
    tokdf = exploded.groupBy("tok").agg(F.count("*").alias("df"))

    # rare-first global order: sort each doc's tokens by (df, tok)
    ordered = (
        exploded.join(F.broadcast(tokdf), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s.getField("tok"),
            ).alias("ord_ts")
        )
    )
    n = F.size("ord_ts")
    prefix_len = (n - F.ceil(n * F.lit(TAU)) + 1).cast("int")
    # Persisted: both sides of the self-join read this relation, and
    # without materialization Spark recomputes the explode→df-join→
    # collect_list ordering pipeline once PER SIDE (measured 3.7× whole-
    # query cost at sf0.1). The prefix index is the PPJoin inverted
    # index: ~(1-t) of the corpus token count, tiny next to the corpus,
    # so caching it is exactly as scale-sound as PPJoin's in-memory
    # index — at 100 TB it's a few GB spread across executors.
    prefixes = ordered.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("ord_ts", 1, prefix_len)).alias("pos", "ptok"),
    ).persist()

    # Candidate generation with the SIZE and POSITIONAL filters fused
    # into the join condition (both codegen'd, both applied BEFORE the
    # distinct's shuffle and the array verify):
    #  - size filter: Jaccard ≥ t forces t·max(|a|,|b|) ≤ min(|a|,|b|)
    #    (~4.6× candidate cut, 9.7M→2.1M at sf0.1);
    #  - positional filter (PPJoin's second lemma): a collision at
    #    0-indexed prefix positions (pa, pb) caps the achievable overlap
    #    at min(|a|−pa, |b|−pb) — tokens before the collision point are,
    #    by the shared global order, disjoint between the two docs — and
    #    Jaccard ≥ t needs overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉. Both bounds
    #    need only (n, pos) already riding with the prefix token, so the
    #    filter survives 100 TB unchanged.
    a, b = prefixes.alias("a"), prefixes.alias("b")
    min_overlap = F.ceil(
        (F.col("a.n") + F.col("b.n")) * F.lit(TAU / (1.0 + TAU))
    )
    overlap_ubound = F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest("a.n", "b.n") * F.lit(TAU)
                <= F.least("a.n", "b.n")
            )
            & (overlap_ubound >= min_overlap),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jacc = inter * F.lit(1.0) / (F.size("ts_a") + F.size("ts_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= TAU)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: Capped-variant knobs: per-doc prefix-index cap and per-doc candidate cap.
PREFIX_CAP = 4
M_CAP = 8


@query(
    "q_jaccard_prefix_capped",
    oracle=f"""
    WITH s AS (SELECT * FROM {_SETS_SQL}),
    e AS (SELECT doc_id, unnest(ts) AS tok, len(ts) AS n FROM s),
    df AS (SELECT tok, count(*) AS df FROM e GROUP BY tok),
    ranked AS (
      SELECT e.doc_id, e.tok, e.n,
             row_number() OVER (
               PARTITION BY e.doc_id ORDER BY df.df, e.tok) - 1 AS pos
      FROM e JOIN df USING (tok)),
    p AS (
      SELECT * FROM ranked
      WHERE pos < least(
        n - CAST(ceil(CAST({TAU} AS DOUBLE) * n) AS BIGINT) + 1,
        {PREFIX_CAP})),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             min(a.pos + b.pos) AS colpos
      FROM p a JOIN p b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
       AND greatest(a.n, b.n) * CAST({TAU} AS DOUBLE) <= least(a.n, b.n)
       AND least(a.n - a.pos, b.n - b.pos) >=
           ceil((a.n + b.n) * CAST({TAU / (1.0 + TAU)!r} AS DOUBLE))
      GROUP BY 1, 2),
    capped AS (
      SELECT doc_a, doc_b, rn FROM (
        SELECT doc_a, doc_b,
               row_number() OVER (
                 PARTITION BY doc_a ORDER BY colpos, doc_b) AS rn
        FROM cand)
      WHERE rn <= {M_CAP}),
    v AS (
      SELECT c.doc_a, c.doc_b, c.rn, count(*) AS o,
             any_value(ea.n) AS na, any_value(eb.n) AS nb
      FROM capped c
      JOIN e ea ON ea.doc_id = c.doc_a
      JOIN e eb ON eb.doc_id = c.doc_b AND eb.tok = ea.tok
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, CAST(rn AS INT) AS rn,
           round(o * 1.0 / (na + nb - o), 6) AS jaccard
    FROM v
    WHERE o * 1.0 / (na + nb - o) >= {TAU}
    """,
)
def q_jaccard_prefix_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X597 — the CAPPED scale variant of q_jaccard_prefix: identical
    prefix machinery, but (1) each doc indexes at most PREFIX_CAP of its
    rarest prefix tokens and (2) each doc retains at most M_CAP
    candidate partners (larger doc_id side), ranked by the collision's
    combined prefix position (rarer-end collisions first) with doc_id
    tiebreak — so candidate generation, verification volume AND output
    are all O(m · corpus) even when qualifying pairs grow quadratically
    (the uncapped form's documented output-bound honest exception; the
    uncapped q_jaccard_prefix stays registered as the completeness
    oracle). The cap is deterministic over the same global (df, tok)
    order, so the DuckDB twin replays the exact subset — this is a
    hash-gated query, not a heuristic.

    At 100 TB: the prefix index is ≤ PREFIX_CAP rows/doc; the rank cap
    bounds the per-doc verify fan-out the way a top-k ANN search bounds
    probe cost; dedup consumers take the best-m near-duplicate partners
    per doc, which is what a canonical-selection pass actually consumes
    (cf. Lee et al. 2022 dedup: per-doc match lists, not the full
    quadratic pair set)."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sets = d.select(
        "doc_id",
        F.array_distinct(text.hashed_tokens_mod(F.col("text"))).alias("ts"),
    ).persist()
    exploded = sets.select("doc_id", F.explode("ts").alias("tok"))
    tokdf = exploded.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        exploded.join(F.broadcast(tokdf), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "tok"))),
                lambda s: s.getField("tok"),
            ).alias("ord_ts")
        )
    )
    n = F.size("ord_ts")
    prefix_len = F.least(
        (n - F.ceil(n * F.lit(TAU)) + 1).cast("int"), F.lit(PREFIX_CAP)
    )
    prefixes = ordered.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(F.slice("ord_ts", 1, prefix_len)).alias("pos", "ptok"),
    ).persist()

    a, b = prefixes.alias("a"), prefixes.alias("b")
    min_overlap = F.ceil(
        (F.col("a.n") + F.col("b.n")) * F.lit(TAU / (1.0 + TAU))
    )
    overlap_ubound = F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.ptok") == F.col("b.ptok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest("a.n", "b.n") * F.lit(TAU)
                <= F.least("a.n", "b.n")
            )
            & (overlap_ubound >= min_overlap),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.min(F.col("a.pos") + F.col("b.pos")).alias("colpos"))
    )
    w = Window.partitionBy("doc_a").orderBy("colpos", "doc_b")
    capped = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= M_CAP)
        .select("doc_a", "doc_b", "rn")
    )

    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jacc = inter * F.lit(1.0) / (F.size("ts_a") + F.size("ts_b") - inter)
    return (
        capped.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= TAU)
        .select("doc_a", "doc_b", "rn", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM documents
    ),
    freq AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_counted,
           count(*) AS distinct_chars,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6)
             AS entropy_bits
    FROM freq GROUP BY doc_id
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (quality scoring for
    the training-data pipeline; cf. llm_ext's heuristic q_quality_score).
    H = -Σ p·log2(p) rewritten as log2(n) - Σ c·log2(c)/n so the whole
    thing is two groupBys with map-side combine and zero floating
    divisions until the final scalar. Characters come from
    ``regexp_extract_all(text, '.')`` — identical newline-exclusion
    semantics in Java regex and DuckDB's RE2."""
    d = load(spark, sf_dir, "documents")
    freq = d.select(
        "doc_id", F.explode(F.regexp_extract_all("text", F.lit("."), 0)).alias("ch")
    ).groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return freq.groupBy("doc_id").agg(
        n.alias("n_counted"),
        F.count("*").alias("distinct_chars"),
        F.round(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
        ).alias("entropy_bits"),
    )


@query(
    "q_edit_distance",
    oracle="""
    WITH heads AS (
      SELECT doc_id, lang, substr(text, 1, 40) AS head FROM documents)
    SELECT doc_id, lang,
           levenshtein(head,
                       lag(head) OVER (PARTITION BY lang ORDER BY doc_id))
             AS dist_to_prev
    FROM heads
    """,
)
def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance between each document's 40-char head and
    its predecessor's (per language, doc_id order) — the character-level
    near-dup signal complementing the token-level Jaccard family. Both
    engines implement the standard unit-cost edit distance. Bounding the
    operand to a fixed prefix is the scale discipline: levenshtein is
    O(m·n) per pair, so at 100 TB you band by a cheap key and cap the
    operand length, exactly as here."""
    d = load(spark, sf_dir, "documents")
    heads = d.select(
        "doc_id", "lang", F.substring("text", 1, 40).alias("head")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    return heads.select(
        "doc_id",
        "lang",
        F.levenshtein("head", F.lag("head").over(w)).alias("dist_to_prev"),
    )


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({text.tokens_sql('text')}) AS token
      FROM documents),
    counted AS (
      SELECT lang, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT lang, token, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token) AS rk
      FROM counted)
    SELECT lang, token, cnt, rk FROM ranked WHERE rk <= 3
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 heavy hitters (most frequent tokens) per language:
    explode → count → rank, ties broken lexicographically so the result
    is deterministic. The count is map-side combinable and the rank
    window only sees the (lang, token) aggregate — the scan's token
    explosion never shuffles raw. At 100 TB swap the exact count for a
    count-min sketch only if the vocabulary itself outgrows memory."""
    return HEAVY_HITTERS.batch(spark, sf_dir)


def token_counts(d: DataFrame) -> DataFrame:
    """Documents → (lang, token, cnt)."""
    return (
        d.select("lang", F.explode(text.tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )


def top3_tokens(counted: DataFrame) -> DataFrame:
    """(lang, token, cnt) → the q_heavy_hitters top-3 per language."""
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "token", "cnt", "rk")
    )


#: X492 — streaming heavy hitters: the store keeps the (lang, token)
#: counts, the sufficient statistic; the rank is recomputed on read,
#: because a persisted rank would be wrong after the next batch
HEAVY_HITTERS = StoreSpec(
    "documents",
    (Cells("counts", ("lang", "token"), token_counts),),
    top3_tokens,
)


_GOPHER_WC_MIN = 20
_REP_MAX = 0.2
_SYM_MAX = 0.1


@query(
    "q_gopher_filters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {text.tokens_sql('text')} AS toks
      FROM documents),
    s AS (
      SELECT doc_id, text, toks, len(toks) AS wc,
             {text.shingles_sql('toks')} AS sh
      FROM t),
    m AS (
      SELECT doc_id,
             wc,
             round(list_sum(list_transform(toks,
                     x -> CAST(length(x) AS DOUBLE))) / wc, 6) AS mean_wlen,
             round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 6)
               AS rep_ratio,
             round((length(text) - length(replace(text, '#', ''))) * 1.0
                   / wc, 6) AS sym_ratio,
             len(list_intersect(list_distinct(list_transform(toks,
                     x -> lower(x))),
                 {list(text.STOPWORDS)})) AS n_stop
      FROM s)
    SELECT doc_id, wc, mean_wlen, rep_ratio, sym_ratio, n_stop,
           CASE WHEN wc >= {_GOPHER_WC_MIN}
                 AND mean_wlen BETWEEN 3 AND 10
                 AND rep_ratio < {_REP_MAX}
                 AND sym_ratio < {_SYM_MAX}
                 AND n_stop >= 2
                THEN 1 ELSE 0 END AS keep
    FROM m
    """,
)
def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style quality-filter battery per document
    (Rae et al. 2021 §A1.1; Penedo et al. 2023): word count floor, mean
    word length band, duplicate-3-gram repetition ratio, symbol-to-word
    ratio, and stopword presence, composed into one keep/drop flag. The
    published filters are exactly this shape — cheap per-doc token
    statistics — so the whole battery is one narrow projection pass, no
    shuffle at all until someone aggregates the flags. Complements
    q_quality_score (heuristic score) and q_char_entropy (information-
    theoretic) as the third quality lens."""
    d = load(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    s = d.select(
        "doc_id",
        "text",
        toks.alias("toks"),
        F.size(toks).alias("wc"),
        text.shingles(toks).alias("sh"),
    )

    def _len_d(x):
        return F.length(x).cast("double")

    mean_wlen = F.round(
        F.aggregate(
            F.transform("toks", _len_d), F.lit(0.0), lambda acc, x: acc + x
        )
        / F.col("wc"),
        6,
    )
    rep_ratio = F.round(
        F.lit(1.0) - F.size(F.array_distinct("sh")) * F.lit(1.0) / F.size("sh"),
        6,
    )
    sym_ratio = F.round(
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
        * F.lit(1.0)
        / F.col("wc"),
        6,
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform("toks", F.lower)),
            F.array(*[F.lit(s_) for s_ in text.STOPWORDS]),
        )
    )
    m = s.select(
        "doc_id",
        "wc",
        mean_wlen.alias("mean_wlen"),
        rep_ratio.alias("rep_ratio"),
        sym_ratio.alias("sym_ratio"),
        n_stop.alias("n_stop"),
    )
    keep = (
        (F.col("wc") >= _GOPHER_WC_MIN)
        & F.col("mean_wlen").between(3, 10)
        & (F.col("rep_ratio") < _REP_MAX)
        & (F.col("sym_ratio") < _SYM_MAX)
        & (F.col("n_stop") >= 2)
    )
    return m.withColumn("keep", keep.cast("int"))


@query(
    "q_triangle_count",
    oracle=f"""
    WITH s AS (SELECT * FROM {_SETS_SQL}),
    ex AS (SELECT doc_id, unnest(ts) AS tok, len(ts) AS n FROM s),
    i AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS o,
             any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    e AS (SELECT a, b FROM i WHERE o * 1.0 / (na + nb - o) >= {TAU}),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY v),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT sum(d * (d - 1) / 2) FROM deg) AS n_wedges,
           n_triangles,
           round(3.0 * n_triangles
                 / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
             AS clustering_coeff
    FROM tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the exact
    similarity graph (edges = doc pairs with Jaccard ≥ t, a<b oriented).
    The a<b<c orientation makes each triangle a single join path
    e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c) — the standard trick that kills the
    6× overcount AND caps the join fan-out by the smaller endpoint's
    out-degree (Suri & Vassilvitskii's MapReduce formulation). Near-dup
    corpora are clique-heavy, so the coefficient ~1 is itself a data
    diagnostic: twin FAMILIES, not chains.

    Scale notes: two shuffle joins on long keys over the edge list —
    |E| log |E| work, independent of corpus text size; degrees and
    wedges are one partial agg each."""
    pairs = q_jaccard_prefix(spark, sf_dir)
    e = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).persist()
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        wedges.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_wedges").cast("double").alias("n_wedges"),
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


@query(
    "q_fuzzy_join",
    oracle="""
    WITH heads AS (
      SELECT doc_id, lang, substr(text, 1, 40) AS head,
             string_split(text, ' ')[1] AS w1,
             length(substr(text, 1, 40)) // 10 AS lband
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
    FROM heads a
    JOIN heads b
      ON a.lang = b.lang AND a.w1 = b.w1 AND a.lband = b.lband
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 5
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — the entity-resolution scale
    path the sequential q_edit_distance demo points at: candidates
    blocked on (lang, first token, length band) so the quadratic
    levenshtein verify runs only inside blocks, then exact distance
    ≤ 5 on 40-char heads. Length banding is sound (edit distance ≥
    length difference, so near-matches can't sit far apart in length);
    production blocking adds more keys (phonetic, q-gram) the same
    way — every key is just another equi-join column.

    Plan: one shuffle on the composite block key; no cross product —
    the O(m²) verify is bounded per block."""
    d = load(spark, sf_dir, "documents")
    heads = d.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 40).alias("head"),
        F.split("text", " ").getItem(0).alias("w1"),
        (F.length(F.substring("text", 1, 40)) / 10)
        .cast("int")
        .alias("lband"),
    )
    a, b = heads.alias("a"), heads.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.w1") == F.col("b.w1"))
            & (F.col("a.lband") == F.col("b.lband"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 5)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("dist"),
        )
    )
