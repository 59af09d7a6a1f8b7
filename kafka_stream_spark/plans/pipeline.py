"""The board pipeline in batch mode: ``documents`` through the board
chain (``boards.enrich``, shared with the CDC stream), its DuckDB oracle
(``boards.enrich_sql``) and the multi-sink fan-out (K1-K4).

Board config is data (SURVEY.md §2.12: the reference keeps two ~640-line
near-identical copies, kafka_s.py / kafka_a.py). The only joins are
against broadcast dims (sites, rules), so the 100 TB fact side streams
through map-side-only stages — zero shuffles end-to-end.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import boards
from ..boards import ASHARE, NEEQ, BoardConfig  # noqa: F401  (re-export)
from ..functions import decode
from ..sources.dims import local_frame
from ..sources.tables import load
from .registry import query


def enrich(d: DataFrame, spark: SparkSession, cfg: BoardConfig = NEEQ) -> DataFrame:
    """The board chain (``boards.enrich``) on a (doc_id, title, source,
    lang) DataFrame, static or streaming."""
    return boards.enrich(d, spark, cfg, boards.DOCS)


def board_pipeline(
    spark: SparkSession, sf_dir: str, cfg: BoardConfig = NEEQ
) -> DataFrame:
    """Full enrichment pipeline over ``documents`` (announcement analog)."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.col("text").alias("title"),
        F.col("source"),
        F.col("lang"),
    )
    return enrich(d, spark, cfg)


def _board_pipeline_oracle(cfg: BoardConfig) -> str:
    return boards.enrich_sql(
        "SELECT doc_id, text AS title, source, lang FROM documents",
        cfg,
        boards.DOCS,
    )


@query("q_board_pipeline", oracle=_board_pipeline_oracle(NEEQ))
def q_board_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY.md §7.1): the whole reference pipeline, batch mode."""
    return board_pipeline(spark, sf_dir, NEEQ)


@query(
    "q_assemble_wide",
    oracle="""
    SELECT doc_id, text AS title,
           '巨潮资讯网' AS webname, '新三板公告' AS src_type,
           '直接关联' AS rel_type, 1 AS is_valid, 1 AS data_status,
           coalesce(lang, '') AS lang_code, coalesce(source, '') AS src_code,
           '' AS reserved1, '' AS reserved2
    FROM documents
    """,
)
def q_assemble_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P9+P10 — wide row assembly with literal columns and
    empty-string defaults (kafka_s.py:346-443: 33/34-col positional rows
    become one explicit select)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("text").alias("title"),
        F.lit("巨潮资讯网").alias("webname"),
        F.lit("新三板公告").alias("src_type"),
        F.lit("直接关联").alias("rel_type"),
        F.lit(1).alias("is_valid"),
        F.lit(1).alias("data_status"),
        decode.default_empty(F.col("lang")).alias("lang_code"),
        decode.default_empty(F.col("source")).alias("src_code"),
        F.lit("").alias("reserved1"),
        F.lit("").alias("reserved2"),
    )


@query(
    "q_multi_sink",
    # The side effects aren't SQL-expressible, but the OUTPUT is: each
    # sink's read-back count must equal the declarative pipeline count.
    oracle=f"""
    WITH pipe AS ({_board_pipeline_oracle(NEEQ)}),
    n AS (SELECT count(*) AS c FROM pipe)
    SELECT s.sink, CAST(n.c AS BIGINT) AS rows_written
    FROM (VALUES ('announcements'), ('sentiment'), ('offline_csv')) s(sink), n
    """,
)
def q_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K4 — multi-sink fan-out: the same matched batch written to two
    table sinks and one CSV sink (kafka_s.py:343-345,470-556,614-630;
    mysql_rules.py:85-90). Locally parquet+parquet+csv stand in for
    MySQL+MySQL+Mongo; the pattern (persist once, write N times) is the
    foreachBatch shape used by the streaming layer."""
    out = board_pipeline(spark, sf_dir, NEEQ)
    out.persist()
    base = tempfile.mkdtemp(prefix="kss_sinks_")
    targets = {
        "announcements": ("parquet", os.path.join(base, "announcements")),
        "sentiment": ("parquet", os.path.join(base, "sentiment")),
        "offline_csv": ("csv", os.path.join(base, "rules_csv")),
    }
    counts = []
    for sink, (fmt, path) in targets.items():
        writer = out.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(path)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            # mirror the write options, or the header reads back as data
            reader = reader.option("header", "true").option("multiLine", "true")
        counts.append((sink, reader.load(path).count()))
    out.unpersist()
    shutil.rmtree(base, ignore_errors=True)  # counts are already collected
    return local_frame(spark, counts, "sink string, rows_written long")
