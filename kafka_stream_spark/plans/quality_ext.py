"""Text-quality operators, round 2: PII redaction and containment-based
near-duplicate detection.

* ``q_pii_redact`` — the scrubbing pass every training-data pipeline
  runs before release: regex-redact emails, phone numbers, and IPv4
  addresses, with per-category match counts for audit. The corpus text
  carries no PII (deterministic synthetic words), so each document is
  salted with derived PII built from its doc_id — the redactor's input
  is still fully deterministic and oracle-reproducible.
* ``q_containment`` — asymmetric set-containment similarity
  |A∩B|/min(|A|,|B|) over shingle sets. Jaccard misses the
  near-superset case (a doc embedded inside a much larger one scores
  low); containment is the standard complement (Broder 1997's two
  resemblance measures). Lang-blocked pairwise — the correctness twin
  of the prefix-filtered / LSH scale paths, like q_ngram_jaccard.

Scale notes: redaction is a pure projection (regexp_replace in
whole-stage codegen, no shuffle, trivially 100 TB-safe). Containment at
scale rides the same LSH/prefix-filter machinery as Jaccard (minhash
sketches estimate containment with |A| in the denominator); the
pairwise form here exists to pin semantics, and is excluded from bench
like every O(n²) twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing, text
from ..operators import lsh
from ..sources.tables import load
from .llm_ext import _docs_parallel
from .registry import query

#: RE2- and Java-compatible patterns (no lookaround, no backrefs)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "q_pii_redact",
    oracle=f"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or 555-' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') ||
             ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(raw, '{IPV4_RE}')) AS INT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g'),
                 '{IPV4_RE}', '<IP>', 'g')) AS redacted_hash
    FROM salted
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails / NANP phone numbers /
    IPv4 addresses in one projection pass. Patterns are written in the
    RE2∩Java-regex subset so both engines match identical spans; the
    redacted text is md5'd (the full text would bloat the compare, the
    hash pins every byte)."""
    d = load(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("raw"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        IPV4_RE,
        "<IP>",
    )
    return salted.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("raw", F.lit(PHONE_RE), 0)).alias("n_phone"),
        F.size(F.regexp_extract_all("raw", F.lit(IPV4_RE), 0)).alias("n_ip"),
        F.md5(redacted).alias("redacted_hash"),
    )


def _containment_oracle() -> str:
    return f"""
    WITH h AS (SELECT doc_id, lang, hs
               FROM {text.hashed_shingle_table_sql(', lang')})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_filter(a.hs, v -> list_contains(b.hs, v))) * 1.0
                 / least(len(a.hs), len(b.hs)), 6) AS containment
    FROM h a JOIN h b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_filter(a.hs, v -> list_contains(b.hs, v))) * 1.0
          / least(len(a.hs), len(b.hs)) >= 0.5
    """


@query("q_containment", oracle=_containment_oracle())
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.5 over
    3-gram shingle-hash sets, lang-blocked. Catches the near-superset
    duplicates (quote inside an article, doc + boilerplate) whose
    Jaccard is diluted by the size difference. Pairwise correctness
    twin of q_containment_lsh — the banded scale path implemented
    below; this exact form is excluded from bench like every O(n²)
    twin."""
    h = lsh.shingle_sets(load(spark, sf_dir, "documents"), "lang").persist()
    a, b = h.alias("a"), h.alias("b")
    result = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lsh.containment("a.hs", "b.hs").alias("containment"),
        )
        .filter(F.col("containment") >= 0.5)
        .localCheckpoint(eager=True)  # release h below, no session leak
    )
    h.unpersist()
    return result


def _containment_lsh_oracle() -> str:
    return f"""
    WITH {lsh.candidate_ctes()}
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(ha.hs, v -> list_contains(hb.hs, v))) * 1.0
                 / least(len(ha.hs), len(hb.hs)), 6) AS containment
    FROM cand c
    JOIN h ha ON ha.doc_id = c.doc_a
    JOIN h hb ON hb.doc_id = c.doc_b
    WHERE len(list_filter(ha.hs, v -> list_contains(hb.hs, v))) * 1.0
          / least(len(ha.hs), len(hb.hs)) >= 0.5
    """


@query("q_containment_lsh", oracle=_containment_lsh_oracle())
def q_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs, SCALE PATH: MinHash-LSH band-bucket
    candidate generation (8 bands × 4 rows over the 32-slot signature)
    followed by exact |A∩B| / min(|A|,|B|) verification ≥ 0.5 on
    candidates only — the banded twin of q_containment's pairwise form,
    exactly as q_near_dedup is the banded twin of q_ngram_jaccard.

    Scale shape: signatures are one map-side pass; the LSH join
    shuffles only (band_key, doc_id) pairs; shingle sets travel only to
    the candidate verify. A near-superset pair shares most of the
    smaller set's shingles, so its Jaccard — which the bands estimate —
    is ≥ containment·min/(|A|+|B|-inter); bands at these parameters
    recall containment ≥ 0.5 pairs whose size ratio is bounded, the
    standard LSH-containment trade-off (Broder 1997; sketch engines
    ship the identical compromise). The DuckDB oracle reproduces the
    same deterministic candidate set, so recall choices cannot hide."""
    # fan out the single-split scan: the md5-per-token shingle pass is
    # the query's CPU cost and would otherwise run on one core (guide
    # §2.6; the same _docs_parallel idiom q_minhash_est uses)
    h = lsh.shingle_sets(_docs_parallel(spark, sf_dir)).persist()
    cand = lsh.candidates(lsh.band_rows(h))
    ha, hb = h.alias("ha"), h.alias("hb")
    result = (
        cand.join(ha, F.col("ha.doc_id") == F.col("doc_a"))
        .join(hb, F.col("hb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            lsh.containment("ha.hs", "hb.hs").alias("containment"),
        )
        .filter(F.col("containment") >= 0.5)
        .localCheckpoint(eager=True)  # release h below, no session leak
    )
    h.unpersist()
    return result


def _minhash_est_oracle() -> str:
    sig = hashing.minhash_signature_sql("hs")
    return f"""
    WITH h AS (SELECT doc_id, lang, hs
               FROM {text.hashed_shingle_table_sql(', lang')}),
    s AS (SELECT doc_id, lang, hs, {sig} AS sig FROM h),
    paired AS (
      SELECT doc_id, lang, hs, sig,
             lag(doc_id) OVER w AS prev_id,
             lag(hs) OVER w AS prev_hs,
             lag(sig) OVER w AS prev_sig
      FROM s WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    )
    SELECT prev_id AS doc_a, doc_id AS doc_b,
           round(len(list_filter(hs, v -> list_contains(prev_hs, v))) * 1.0
                 / (len(hs) + len(prev_hs)
                    - len(list_filter(hs, v -> list_contains(prev_hs, v)))),
                 6) AS jaccard_exact,
           round(len(list_filter(range(32),
                     i -> sig[i + 1] = prev_sig[i + 1])) / 32.0, 6)
             AS jaccard_est
    FROM paired WHERE prev_id IS NOT NULL
    """


@query("q_minhash_est", oracle=_minhash_est_oracle())
def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch calibration — the dedup analog of q_ann_recall:
    for consecutive same-lang document pairs, the 32-slot signature
    agreement fraction (the LSH estimator of Jaccard) next to the exact
    shingle-set Jaccard it estimates. Publishing the estimator's error
    distribution as a query is how a 100 TB pipeline audits its dedup
    threshold before committing to it; both numbers are deterministic,
    so even the sketch sits under the strict value-hash gate.

    Plan shape: the CPU-heavy sketch pass (md5 per token, 32 perms per
    shingle) runs data-parallel over the corpus partitioning and is
    materialized ONCE; the only window carries (lang, doc_id) ids —
    NEVER the sketch arrays — so pairing costs a tiny per-lang sort,
    and both sketch fetches are hash joins with full parallelism. The
    naive lag(hs)/lag(sig) spelling funnels the whole sketch compute
    through |langs| sort tasks: measured 43s vs ~3s at sf0.1."""
    from pyspark.sql import Window

    s = (
        lsh.shingle_sets(_docs_parallel(spark, sf_dir), "lang")
        .withColumn("sig", hashing.minhash_signature("hs"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    ids = s.select("doc_id", "lang").withColumn(
        "rn", F.row_number().over(w)
    )
    pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.rn") + 1 == F.col("b.rn")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    sa = s.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = s.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("sig").alias("sig_b"),
    )
    j = pairs.join(sa, "doc_a").join(sb, "doc_b")
    est = (
        F.size(
            F.filter(
                F.sequence(F.lit(0), F.lit(31)),
                lambda i: F.element_at(F.col("sig_a"), i + 1)
                == F.element_at(F.col("sig_b"), i + 1),
            )
        )
        / F.lit(32.0)
    )
    return j.select(
        "doc_a",
        "doc_b",
        lsh.jaccard("hs_a", "hs_b").alias("jaccard_exact"),
        F.round(est, 6).alias("jaccard_est"),
    )


def _simhash60_sql() -> str:
    """60-bit SimHash as a DuckDB expression over ``th`` (distinct
    60-bit token hashes)."""
    terms = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(th, "
        f"h -> 2 * ((h >> {j}) & 1) - 1), 'sum') > 0 "
        f"THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(60)
    )
    return terms


def _simhash_dedup_oracle() -> str:
    from ..functions.hashing import token_hash_sql

    return f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(list_transform(
               {text.tokens_sql('text')}, t -> {token_hash_sql('t')})) AS th
      FROM documents
    ),
    s AS (SELECT doc_id, {_simhash60_sql()} AS sig FROM tok)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """


@query("q_simhash_dedup", oracle=_simhash_dedup_oracle())
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-banded near-dedup (the Manku-Jain-Sarma web
    dedup, public): 60-bit SimHash per doc, candidates from 4 bands x
    15 bits, exact verify bit_count(xor) <= 3 on candidates only.

    The pigeonhole theorem makes band recall COMPLETE here: any pair
    within hamming 3 differs in at most 3 of the 4 bands, so at least
    one band matches exactly — which is why the oracle can be the
    brute-force pairwise join and still agree bit-for-bit with the
    banded engine path.

    Plan shape: the signature is ONE fold over the token-hash array
    (votes for all 60 bits accumulate in a single array pass — not 60
    separate folds); the band join shuffles (band_key, doc_id, sig)
    only — 24 bytes/row regardless of document size; exact verify is
    integer xor+popcount on candidates. 100 TB-ready like q_near_dedup,
    with cheaper verification (no shingle-set intersection)."""
    from ..functions.hashing import token_hash

    d = load(spark, sf_dir, "documents")
    th = F.array_distinct(
        F.transform(text.tokens(F.col("text")), lambda t: token_hash(t))
    )
    votes = F.aggregate(
        F.col("th"),
        F.array_repeat(F.lit(0).cast("long"), 60),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(59)),
            lambda a, j: a
            + F.call_function("shiftright", h, j).bitwiseAND(F.lit(1)) * 2
            - 1,
        ),
    )
    sig_expr = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(59)),
            lambda v, j: F.when(
                v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    s = (
        d.select("doc_id", th.alias("th"))
        .select("doc_id", sig_expr.alias("sig"))
        .persist()
    )
    bands = s.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda k: k * F.lit(32768)
                + F.call_function("shiftright", F.col("sig"), k * 15)
                .bitwiseAND(F.lit(0x7FFF)),
            )
        ).alias("band_key"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    ham = F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig")))
    result = (
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(ham <= 3)
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # release s below, no session leak
    )
    s.unpersist()
    return result


@query(
    "q_class_weights",
    oracle="""
    WITH cls AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), tot AS (SELECT sum(n) AS nt, count(*) AS k FROM cls),
    w AS (
      SELECT lang, n, CAST(nt AS DOUBLE) / (k * n) AS weight, nt
      FROM cls CROSS JOIN tot
    )
    SELECT lang, CAST(n AS BIGINT) AS n, round(weight, 6) AS class_weight,
           round(pow(sum(weight * n) OVER (), 2)
                 / sum(weight * weight * n) OVER (), 4)
             AS effective_sample_size
    FROM w
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights (sklearn's 'balanced' formula
    N/(K·n_c)) with the Kish effective sample size (Σw)²/Σw² the
    reweighted corpus actually trains on — the imbalance correction +
    its cost, in one pass. Class table is K rows; everything after
    the first combinable count is broadcast-sized."""
    d = load(spark, sf_dir, "documents")
    cls = d.groupBy("lang").agg(F.count("*").alias("n"))
    tot = cls.agg(F.sum("n").alias("nt"), F.count("*").alias("k"))
    w = cls.crossJoin(F.broadcast(tot)).withColumn(
        "weight", F.col("nt").cast("double") / (F.col("k") * F.col("n"))
    )
    win = Window.partitionBy()
    ess = F.pow(
        F.sum(F.col("weight") * F.col("n")).over(win), 2
    ) / F.sum(F.col("weight") * F.col("weight") * F.col("n")).over(win)
    return w.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.round("weight", 6).alias("class_weight"),
        F.round(ess, 4).alias("effective_sample_size"),
    )


@query(
    "q_k_anonymity",
    oracle="""
    WITH qid AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS grp_n
      FROM customer GROUP BY 1, 2, 3
    ), tot AS (SELECT sum(grp_n) AS nt FROM qid)
    SELECT CAST(min(grp_n) AS BIGINT) AS k_anonymity,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
             AS rows_below_k5,
           round(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                 * 1.0 / max(nt), 6) AS frac_below_k5
    FROM qid CROSS JOIN tot
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (segment, nation, balance-band)
    quasi-identifier: the minimum equivalence-class size IS the
    dataset's k, plus how many rows sit in classes smaller than k=5
    (the re-identifiable tail a release gate must suppress or
    generalize — the [[q_pii_redact]] companion for structured data).
    One combinable QID rollup; the audit aggregates its tiny result."""
    c = load(spark, sf_dir, "customer")
    qid = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count("*").alias("grp_n"))
    tot = qid.agg(F.sum("grp_n").alias("nt"))
    below = F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0))
    return qid.crossJoin(F.broadcast(tot)).agg(
        F.min("grp_n").cast("long").alias("k_anonymity"),
        F.count("*").cast("long").alias("n_groups"),
        below.cast("long").alias("rows_below_k5"),
        F.round(below * 1.0 / F.max("nt"), 6).alias("frac_below_k5"),
    )
