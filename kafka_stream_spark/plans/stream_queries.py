"""Streaming queries in the driver correctness gate.

q_stream_pipeline runs the REAL Structured Streaming path (file CDC
source → enrichment → checkpointed dedup → foreachBatch parquet sinks)
end-to-end inside the query call, then returns the sink contents. The
result is fully deterministic, so it gets a DuckDB oracle like any batch
query — the strongest possible check that batch and streaming semantics
agree (the point of the batch/streaming-unified plan).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import boards
from ..sources.tables import load
from ..streaming.pipeline import SinkPaths, run_board_stream
from .registry import query

_PUB = "2024-01-01 00:00:00"


def _docs_as_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents rendered as mongoshake-style CDC insert envelopes."""
    d = load(spark, sf_dir, "documents")
    o = F.struct(
        F.concat(F.lit("name_"), F.col("doc_id")).alias("st_name"),
        F.col("source").alias("st_code"),
        F.col("text").alias("title"),
        F.lit(_PUB).alias("publish_date"),
        F.concat(F.lit("http://doc/"), F.col("doc_id")).alias("url"),
    )
    return d.select(F.to_json(F.struct(o.alias("o"))).alias("value"))


def _stream_oracle() -> str:
    return boards.enrich_sql(
        f"""
      SELECT 'name_' || CAST(doc_id AS VARCHAR) AS cmp_short_name,
             source AS cmp_code, text AS title,
             '{_PUB}' AS publish_date,
             'http://doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents""",
        boards.NEEQ,
        boards.CDC,
    )


@query("q_stream_pipeline", oracle=_stream_oracle())
def q_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T3+K4 — the full streaming path, verified against a SQL oracle:
    documents → CDC JSON files → readStream → enrich → checkpointed
    dropDuplicates → foreachBatch three-sink fan-out → read the
    announcements sink back. Deterministic because every key and decode
    is, and the corpus has no colliding only_ids."""
    base = tempfile.mkdtemp(prefix="kss_stream_")
    inp, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    # few larger files: less file-listing + per-file task overhead in the
    # short-lived availableNow run (variance, not throughput, is the enemy
    # at this size)
    _docs_as_cdc(spark, sf_dir).coalesce(4).write.mode("overwrite").text(inp)
    q = run_board_stream(spark, inp, out, ckpt)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("board stream did not drain within 300s")
    result = (
        spark.read.parquet(SinkPaths.under(out).announcements)
        .drop("__batch_id")
        .localCheckpoint(eager=True)  # materialize, then drop the scratch dir
    )
    shutil.rmtree(base, ignore_errors=True)
    return result


@query(
    "q_stream_join",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM p JOIN c ON p.user_id = c.user_id
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 — watermarked STREAM-STREAM inner join under the full oracle:
    the events table split into a click stream and a purchase stream,
    joined on user within a 1-hour attribution window by the REAL
    two-stream stateful join (state bounded by watermark + window), then
    compared against the plain SQL range join. Streaming and batch
    semantics agreeing on the same inputs is the whole claim of the
    unified engine; this query makes the two-stream case part of the
    gate rather than only a unit test."""
    from ..streaming.pipeline import run_stream_stream_join

    base = tempfile.mkdtemp(prefix="kss_sjoin_")
    clicks_dir, purch_dir = f"{base}/clicks", f"{base}/purch"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events")
    ev.filter(F.col("event_type") == "click").coalesce(4).write.mode(
        "overwrite"
    ).parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").coalesce(4).write.mode(
        "overwrite"
    ).parquet(purch_dir)
    q = run_stream_stream_join(spark, clicks_dir, purch_dir, out, ckpt)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream-stream join did not drain within 300s")
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


@query(
    "q_stream_window",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT a.ws, a.event_type, a.n, a.sum_value
    FROM agg a CROSS JOIN wm
    WHERE a.ws + INTERVAL 1 HOUR <= wm.w
    """,
)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 under the FULL gate — watermarked tumbling-window aggregation
    in APPEND mode, emission semantics included: the event stream
    drains via availableNow, whose final no-data batch (Spark 3.3+)
    advances the watermark to max(event time) - 2h and flushes every
    window it closes. Append mode therefore emits EXACTLY the windows
    whose end the final watermark passed — the oracle computes that
    same closed-window set relationally, so the gate pins not just the
    aggregates but WHICH windows a correct watermark implementation
    finalizes (the still-open tail stays in state, by design). Batch
    twin of the full aggregation: q_window_tumbling."""
    from ..streaming.pipeline import run_windowed_event_stream

    base = tempfile.mkdtemp(prefix="kss_swin_")
    inp, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.coalesce(4).write.mode("append").parquet(inp)
    q = run_windowed_event_stream(spark, inp, out, ckpt)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("window stream did not drain")
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result
