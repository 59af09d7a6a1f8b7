"""Round-12 batch A (X803–X805): Avro object-container source/sink,
Aho-Corasick dictionary scan.

Reference scope note: the reference's wire formats are Kafka byte
payloads (kafka_s.py:149-161) and a CSV sink (mysql_rules.py:85-90);
Avro OCF is the de-facto typed Kafka lake format, so the format
family (parquet/CSV/JSON/ORC/text/XML, plans/joins_ext.py) gains the
one remaining first-class member. Spark's own ``avro`` DataSource is
an external module absent from this distribution (probe recorded in
sources/avro.py) — the engine ships a from-scratch pure-Python OCF
codec on the public Apache Avro 1.12 spec instead, executor-side via
mapInPandas (one container file per partition, binaryFile scan back).

- X803 q_avro_source: null-codec OCF round-trip of the events
  projection through the engine's own write→read path, proven
  lossless by the same aggregate the CSV/JSON/ORC/XML/text keys pin
  against the parquet source.
- X804 q_avro_deflate: deflate-codec round-trip exercising the
  raw-RFC1951 block compression AND the ``["null", T]`` union path
  (a nullable derived column with real nulls), plus a compression
  witness: the deflate container must be strictly smaller than the
  null-codec container of the same rows.

- X805 q_ac_scan: Aho-Corasick multi-pattern dictionary scan
  (operators/automaton.py) — every blocklist phrase found in ONE
  linear walk per document (goto/fail/output automaton, overlapping
  and nested matches counted), vs the naive dictionary-size × corpus
  scan count. The DuckDB oracle enumerates every text position and
  substr-compares, so the hash pins exact full-overlap semantics.

Scale: encode cost is one pass over each partition (no shuffle); the
decode side is a binaryFile scan whose parallelism is one task per
container file — at 100 TB both directions are embarrassingly
parallel, and the by-name read projection prunes columns at the
decode boundary. The AC automaton builds once from the
dimension-sized dictionary and rides the mapInPandas closure; per-doc
work is O(text+matches) and the (doc,pattern) counts combine
map-side.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import avro as _avro
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query

_AVRO_ORACLE = """
    SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           count(DISTINCT user_id) AS uniq_users
    FROM events GROUP BY event_type
"""


@query("q_avro_source", oracle=_AVRO_ORACLE)
def q_avro_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X803 — Avro OCF source/sink round-trip (null codec): events
    rows encode into per-partition container files and read back
    through the binaryFile + executor-decode path; the groupBy proves
    losslessness against the parquet source via the shared oracle."""
    base = tempfile.mkdtemp(prefix="kss_avro_")
    path = os.path.join(base, "events_avro")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    manifest = _avro.write_avro(e, path, codec="null")
    n_written = manifest.agg(F.sum("n_records")).collect()[0][0]
    assert n_written and n_written > 0
    back = _avro.read_avro(
        spark, path, "event_id long, user_id long, event_type string"
    )
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("sum_ids"),
            F.countDistinct("user_id").alias("uniq_users"),
        )
        .localCheckpoint(eager=True)  # materialize so the scratch dir can go
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


_AVRO_DEFLATE_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           count(v2) AS n_nonnull,
           CAST(sum(COALESCE(v2, 0)) AS BIGINT) AS sum_v2,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           TRUE AS deflate_smaller
    FROM (
        SELECT event_type, value,
               CASE WHEN event_type <> 'click' THEN user_id END AS v2
        FROM events
    ) GROUP BY event_type
"""


@query("q_avro_deflate", oracle=_AVRO_DEFLATE_ORACLE)
def q_avro_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X804 — deflate-codec OCF round-trip with a REALLY-null union
    column (user_id nulled for 'click' rows → the ["null","long"]
    branch encodes on disk) and a double column (IEEE754 LE path).
    ``deflate_smaller`` pins the compression witness: the deflate
    containers' total bytes must be strictly below the null-codec
    containers' for the same rows — computed from the two manifests,
    constant TRUE in the oracle."""
    base = tempfile.mkdtemp(prefix="kss_avro_")
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") != "click", F.col("user_id")).alias("v2"),
        "event_type",
        "value",
    )
    raw_path = os.path.join(base, "raw")
    defl_path = os.path.join(base, "defl")
    raw_bytes = (
        _avro.write_avro(e, raw_path, codec="null")
        .agg(F.sum("n_bytes"))
        .collect()[0][0]
    )
    defl_bytes = (
        _avro.write_avro(e, defl_path, codec="deflate")
        .agg(F.sum("n_bytes"))
        .collect()[0][0]
    )
    back = _avro.read_avro(
        spark,
        defl_path,
        "event_id long, v2 long, event_type string, value double",
    )
    result = (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("v2").alias("n_nonnull"),
            F.sum(F.coalesce("v2", F.lit(0))).alias("sum_v2"),
            # exact-integer cents fold: the values are 2-decimal
            # doubles, so a double-accumulation sum would be the
            # cross-engine float-order bug class the r11 sf0.1 sweep
            # caught (q_taylor_law) — sum integers instead
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "sum_cents"
            ),
            F.lit(bool(defl_bytes < raw_bytes)).alias("deflate_smaller"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


# ---------------------------------------------------------------------------
# X805 — Aho-Corasick multi-pattern dictionary scan
# ---------------------------------------------------------------------------

#: dictionary with shared prefixes ("value"/"value table"), nesting
#: ("table" inside "value table"), cross-pattern overlap, and one
#: guaranteed-absent phrase (exercises the zero row through the outer
#: join on both engines).
_AC_PATTERNS = [
    "value",
    "value table",
    "table",
    "fast",
    "fast merge",
    "part value",
    "row scan",
    "aggregate",
    "zzzqx",
]

_AC_VALUES = ", ".join(f"('{p}')" for p in _AC_PATTERNS)

_AC_ORACLE = f"""
    WITH pats(pattern) AS (VALUES {_AC_VALUES}),
    r AS (
        SELECT unnest(
            range(1, (SELECT max(length(text)) FROM documents) + 1)
        ) AS i
    ),
    hits AS (
        SELECT d.doc_id, p.pattern
        FROM documents d
        CROSS JOIN pats p
        JOIN r ON r.i + length(p.pattern) - 1 <= length(d.text)
        WHERE substr(d.text, CAST(r.i AS INT),
                     CAST(length(p.pattern) AS INT)) = p.pattern
    )
    SELECT p.pattern,
           count(DISTINCT h.doc_id) AS n_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_occ
    FROM pats p LEFT JOIN hits h USING (pattern)
    GROUP BY p.pattern
"""


@query("q_ac_scan", oracle=_AC_ORACLE)
def q_ac_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X805 — Aho-Corasick dictionary scan over the documents corpus:
    per-pattern document reach and total occurrences (overlapping and
    nested matches included — standard AC output-link semantics). The
    oracle brute-forces every (position, pattern) substr comparison,
    so the hash certifies the automaton's goto/fail/output tables
    produce EXACTLY the full-overlap match set. One linear walk per
    doc replaces a per-pattern corpus scan; the automaton ships in the
    closure (dictionary is dimension-sized), counts combine map-side."""
    from ..operators.automaton import multi_pattern_counts

    docs = load(spark, sf_dir, "documents")
    counts = multi_pattern_counts(docs, _AC_PATTERNS)
    agg = counts.groupBy("pattern").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_occ").alias("n_occ"),
    )
    pats = local_frame(spark, [(p,) for p in _AC_PATTERNS], "pattern string")
    return pats.join(agg, "pattern", "left").select(
        "pattern",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_occ", F.lit(0)).alias("n_occ"),
    )
