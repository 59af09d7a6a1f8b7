"""Streaming board pipeline: CDC stream → enrichment → multi-sink.

Replaces the reference's synchronous consumer loop + per-record sink
writes (kafka_s.py:149-161,343-345) with Structured Streaming:

- checkpointed offsets (T1): restart resumes, never replays the topic
- deterministic-key dedup (D1): ``dropDuplicates`` on the minted yqid
  absorbs at-least-once duplicates instead of the reference's
  bare-except-on-unique-key Mongo insert (kafka_s.py:621-629)
- dimension refresh (T2): stream-static joins re-resolve the static side
  every micro-batch — the reference's count-probe + flat-file watermark
  machinery (kafka_s.py:198-219) disappears
- multi-sink fan-out (K4): one ``foreachBatch`` persists the batch and
  writes announcements + sentiment + dedup'd key-store sinks
  (kafka_s.py:343-345 wrote the same record to 3 stores sequentially)

Scale: state is one 16-byte key per seen record (bounded by watermark in
event-time deployments); sinks write append-only parquet partitions; the
enrichment itself is the same zero-shuffle broadcast plan as batch.

Stream contract: every ``run_*`` stream here is exactly-once from a
replayable source, a checkpoint and idempotent stores, spelled once:

- ``_drain`` starts a query with its checkpoint under the availableNow
  trigger (drain what the source holds, then stop); it is the only
  ``writeStream`` site besides the never-ending ``run_cdcgen_pipeline``;
- ``overwrite_partitions`` is the one dynamic-partition-overwrite
  write: a replayed micro-batch rewrites its own partitions
  (``idempotent_upsert`` keys them by batch_id);
- ``merged_store_apply`` (mergeable partials) and
  ``versioned_fold_batch_fn`` (order-dependent state folds) commit
  read-modify-write stores as ``v=<batch_id>`` versions, skipping a
  replay of a committed batch;
- ``run_store`` drains every additive or semilattice store from its
  ``StoreSpec``, the declaration its batch ``q_*`` key also runs
  (``finalize(partial(load(table)))``), so stream == batch holds by
  construction.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import boards
from ..boards import NEEQ, BoardConfig
from ..sources.dims import local_frame
from .sources import file_cdc_stream

#: read schemas of the testdata tables the streams consume
_EVENTS_CORE_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)
_EVENTS_SCHEMA = _EVENTS_CORE_SCHEMA + ", props string"
_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
_VECS_SCHEMA = "vec_id long, embedding array<float>, label int"
_READ_SCHEMAS = {
    "events": _EVENTS_SCHEMA,
    "documents": _DOCS_SCHEMA,
    "embeddings": _VECS_SCHEMA,
    "lineitem": (
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    ),
}


def _drain(
    df: DataFrame, sink, checkpoint_dir: str, output_mode: str = "append"
) -> StreamingQuery:
    """Start ``df`` as a checkpointed availableNow query: drain what the
    source holds now, then stop. ``sink`` is a foreachBatch body
    ``(batch, batch_id) -> None`` or, as a string, the directory of a
    parquet file sink."""
    writer = df.writeStream.outputMode(output_mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def overwrite_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Parquet write that replaces only the ``cols`` partitions present
    in ``df`` (dynamic partition overwrite) and leaves the rest of
    ``path`` untouched — rewriting a partition is idempotent, so a
    replayed micro-batch overwrites its own earlier attempt."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def store_read(
    sess: SparkSession,
    store_dir: str,
    exclude_batch_id: int | None = None,
) -> DataFrame | None:
    """Read a batch_id-partitioned streaming store (one written with
    ``idempotent_upsert``), dropping the partition column. A replaying
    batch passes its own batch_id as ``exclude_batch_id`` so it never
    sees its previous attempt's rows — together with the
    dynamic-partition-overwrite write this makes the accumulate-style
    stores exactly-once under foreachBatch's documented at-least-once
    replay. Returns None when the store does not exist yet."""
    if not os.path.exists(store_dir):
        return None
    df = sess.read.parquet(store_dir)
    if "batch_id" in df.columns:
        if exclude_batch_id is not None:
            df = df.filter(F.col("batch_id") != F.lit(exclude_batch_id))
        df = df.drop("batch_id")
    return df


def _merged_store_versions(store_dir: str) -> list[int]:
    """Committed version ids of a versioned merged store: ``v=NNN``
    subdirectories whose Spark write finished (``_SUCCESS`` present).
    A directory without ``_SUCCESS`` is an in-flight or crashed write
    and is invisible to readers — the ``_SUCCESS`` creation (a single
    file create) is the store's atomic commit point."""
    if not os.path.isdir(store_dir):
        return []
    out = []
    for name in os.listdir(store_dir):
        if not name.startswith("v="):
            continue
        vdir = os.path.join(store_dir, name)
        if os.path.exists(os.path.join(vdir, "_SUCCESS")):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def merged_store_last_applied(store_dir: str) -> int | None:
    """Replay guard for merged (read-modify-write) stores: the highest
    batch_id whose merge committed. Each merge writes a fresh
    ``v=<batch_id>`` directory and never mutates the previous version,
    so a crash mid-write leaves the old version intact and the partial
    new one uncommitted (no ``_SUCCESS``) — the replay reads the old
    version, redoes the merge, and overwrites the partial directory."""
    versions = _merged_store_versions(store_dir)
    return versions[-1] if versions else None


def merged_store_read(
    sess: SparkSession, store_dir: str, before: int | None = None
) -> DataFrame | None:
    """Read the latest committed version of a versioned merged store
    (one maintained with ``merged_store_apply``); None if no merge has
    committed yet. ``before=batch_id`` reads the latest version BELOW
    that id — the as-of read a replaying batch needs when the state it
    FOLDS also feeds an append output it must regenerate identically
    (its own crashed attempt may already have committed v=batch_id)."""
    versions = _merged_store_versions(store_dir)
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    return sess.read.parquet(os.path.join(store_dir, f"v={versions[-1]:012d}"))


def merged_store_write(
    df: DataFrame, store_dir: str, batch_id: int, keep: int = 2
) -> None:
    """Commit a merged store version: write ``store_dir/v=<batch_id>``
    (overwrite — a replayed crash leftover is replaced wholesale), then
    prune committed versions older than the newest ``keep``. Pruning
    runs only AFTER the new version committed, so a crash anywhere
    leaves at least one committed version readable; leftover stale
    versions are re-pruned by the next write and never read (readers
    take the max committed id).

    ``keep`` must be >= 2: an as-of replay read
    (``merged_store_read(before=batch_id)``) needs the PRE-batch
    version, so pruning down to a single version (or disabling the
    floor with keep<=0) could delete the exact snapshot a replayed
    batch regenerates its append output from."""
    import shutil

    if keep < 2:
        raise ValueError(
            f"merged_store_write keep={keep}: must retain >= 2 versions "
            "for the as-of replay read (merged_store_read(before=...))"
        )

    df.write.mode("overwrite").parquet(
        os.path.join(store_dir, f"v={batch_id:012d}")
    )
    versions = _merged_store_versions(store_dir)
    for v in versions[:-keep] if keep > 0 else []:
        shutil.rmtree(
            os.path.join(store_dir, f"v={v:012d}"), ignore_errors=True
        )


def merged_store_apply(
    part: DataFrame,
    store_dir: str,
    batch_id: int,
    combine,
) -> bool:
    """The one read-modify-write store skeleton (``run_store``'s cell
    tables, the IVM view, the cdcgen witness): skip if this batch
    already committed (foreachBatch replay), else fold the batch's
    partial into the latest committed version via
    ``combine(existing, part) -> DataFrame`` and commit a new version.
    Returns True when the merge ran, False when the replay was skipped.

    Exactly-once on a plain filesystem: the commit point is the new
    version directory's ``_SUCCESS`` file (single file create). A crash
    before it leaves the prior version authoritative and the replay
    redoes the merge from it; a crash after it makes the replay a
    no-op. Because each sub-store guards independently, a multi-store
    batch function that crashed between two stores' commits COMPLETES
    the missing store on replay instead of skipping it."""
    last = merged_store_last_applied(store_dir)
    if last is not None and last >= batch_id:
        return False
    existing = merged_store_read(part.sparkSession, store_dir)
    merged = part if existing is None else combine(existing, part)
    merged_store_write(merged, store_dir, batch_id)
    return True


def versioned_fold_batch_fn(store_dir: str, state_fold):
    """foreachBatch body of an ORDER-DEPENDENT versioned store (Elo,
    SPRT, BOCPD, Space-Saving, theta, dedup clusters): fold the batch
    into the latest committed state with ``state_fold(existing | None,
    batch, batch_id) -> DataFrame`` and commit the result as a new
    version. A replay of a committed batch is a no-op
    (``merged_store_last_applied`` guard); an uncommitted one re-folds
    from the prior version. Exported so tests can replay a batch_id
    and simulate both crash windows."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if (
            last := merged_store_last_applied(store_dir)
        ) is not None and last >= batch_id:
            return  # foreachBatch replay of a committed batch
        existing = merged_store_read(batch.sparkSession, store_dir)
        # materialize BEFORE overwriting: the fold reads the version
        # it is about to supersede
        new_state = state_fold(existing, batch, batch_id).localCheckpoint(
            eager=True
        )
        merged_store_write(new_state, store_dir, batch_id)

    return fold


def additive_combine(keys: list[str], sums: list[str]):
    """``merged_store_apply`` combine for purely additive stores: union
    the partial with the existing rows and re-sum per key, preserving
    the partial's column dtypes."""

    def combine(existing: DataFrame, part: DataFrame) -> DataFrame:
        dtypes = dict(part.dtypes)
        return (
            existing.unionByName(part)
            .groupBy(*keys)
            .agg(*[F.sum(c).cast(dtypes[c]).alias(c) for c in sums])
        )

    return combine


@dataclass(frozen=True)
class Cells:
    """One cell table of a store: ``partial(rows) -> cells``, one row
    per ``keys`` value, and the merge that folds a batch's cells into
    the stored ones. ``merge=None`` sums every non-key column
    (``additive_combine``); otherwise ``merge(existing, part)`` is a
    semilattice merge (KMV keep-k, best-of-n top-2), exact under any
    split of the input into batches."""

    name: str
    keys: tuple[str, ...]
    partial: Callable[[DataFrame], DataFrame] | None = None
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None

    def combine(self, existing: DataFrame, part: DataFrame) -> DataFrame:
        if self.merge is not None:
            return self.merge(existing, part)
        sums = [c for c in part.columns if c not in self.keys]
        return additive_combine(list(self.keys), sums)(existing, part)


@dataclass(frozen=True)
class StoreSpec:
    """An incremental store declared once, as the batch query it
    maintains. The batch key is ``batch()``, i.e.
    ``finalize(partial(load(table)))`` per cell table; ``run_store``
    keeps the same cells current as ``table`` rows stream in, and
    ``read()`` finalizes them. Because each merge is exact, the
    finalized store equals the batch key over the rows so far after
    every micro-batch. ``finalize`` takes the cell tables in ``cells``
    order, preceded by the source rows when ``reads_source`` (outputs
    that also need the rows themselves: an exact side, an audit, a
    join back)."""

    table: str
    cells: tuple[Cells, ...]
    finalize: Callable[..., DataFrame]
    reads_source: bool = False

    @property
    def schema(self) -> str:
        return _READ_SCHEMAS[self.table]

    def output(
        self, cells: Sequence[DataFrame], source: DataFrame | None
    ) -> DataFrame:
        if self.reads_source:
            return self.finalize(source, *cells)
        return self.finalize(*cells)

    def batch(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.tables import load

        source = load(spark, sf_dir, self.table)
        return self.output([c.partial(source) for c in self.cells], source)

    def read(
        self,
        spark: SparkSession,
        store_dir: str,
        source: DataFrame | None = None,
    ) -> DataFrame:
        """The finalized store; ``source`` = the rows drained so far,
        needed only when ``reads_source``."""
        cells = [
            merged_store_read(spark, os.path.join(store_dir, c.name))
            for c in self.cells
        ]
        return self.output(cells, source)


def run_store(
    spark: SparkSession,
    spec: StoreSpec,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Drain ``spec.table`` rows from ``input_dir`` into the store under
    ``store_dir``: per micro-batch, each cell table's partial merges
    into ``store_dir/<cells.name>`` through ``merged_store_apply``.

    The partial is computed inside foreachBatch from the batch's raw
    rows, never as an upstream update-mode streaming aggregation
    (that emits the state store's CUMULATIVE totals, which a merge
    would double-count), so the versioned store is the only state.
    Each cell table guards its own replay: a crash between two cell
    tables' commits completes the missing one when Spark replays the
    batch, and a replay of a committed batch changes nothing."""
    rows = spark.readStream.schema(spec.schema).parquet(input_dir)

    def fold(batch: DataFrame, batch_id: int) -> None:
        for cells in spec.cells:
            merged_store_apply(
                cells.partial(batch),
                os.path.join(store_dir, cells.name),
                batch_id,
                cells.combine,
            )

    return _drain(rows, fold, checkpoint_dir)


def prune_batch_partitions(
    store_dir: str, current_batch_id: int, keep_last: int = 8
) -> None:
    """Compact a batch_id-partitioned state store whose effective value
    is a RUNNING MAX over partitions (e.g. the late-router high-water
    mark): drop partitions older than the last ``keep_last`` batches.
    Safe because the per-batch values are monotone non-decreasing in
    batch_id, so the max over any retained suffix equals the full max —
    including for a replaying batch, which excludes only its own
    partition. Without this the state directory grows one file set per
    micro-batch forever and the per-batch state read degrades with
    stream age."""
    import shutil

    if not os.path.isdir(store_dir):
        return
    cutoff = current_batch_id - keep_last
    for name in os.listdir(store_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            bid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if bid < cutoff:
            shutil.rmtree(os.path.join(store_dir, name), ignore_errors=True)


@dataclass(frozen=True)
class SinkPaths:
    announcements: str
    sentiment: str
    keystore: str

    @classmethod
    def under(cls, base: str) -> "SinkPaths":
        return cls(
            announcements=os.path.join(base, "announcements"),
            sentiment=os.path.join(base, "sentiment"),
            keystore=os.path.join(base, "keystore"),
        )


def enrich_cdc(
    d: DataFrame,
    spark: SparkSession,
    cfg: BoardConfig = NEEQ,
    rules_df: DataFrame | None = None,
) -> DataFrame:
    """CDC fields → classified wide rows (streaming-compatible plan).

    The board chain (``boards.enrich``) on the CDC fields
    (``boards.CDC``): site lookup on the company code, rule match on the
    title, decodes, deterministic keys, wide row (SURVEY.md §3.1).

    ``rules_df``: pass a FILE-BACKED DataFrame for dimension refresh (T2).
    Honest semantics: the parquet static side's file listing is captured
    when the query (re)starts, so edits take effect on the next
    start/restart — which availableNow/triggered deployments do every
    cycle (that restart cadence replaces the reference's count-probe +
    flat-file watermark machinery, kafka_s.py:198-219). A continuously-
    running query needs a per-batch re-read inside foreachBatch or a
    Delta-backed dim for true mid-query refresh."""
    return boards.enrich(d, spark, cfg, boards.CDC, rules_df)


def _fan_out(sinks: SinkPaths):
    """foreachBatch body: persist once, write three sinks (K4).

    foreachBatch delivers each micro-batch at-least-once, so every sink
    write is made idempotent: rows are partitioned by ``__batch_id`` and
    written with dynamic partition overwrite — a retried batch replaces
    its own partition instead of appending duplicates."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.withColumn("__batch_id", F.lit(batch_id))
        batch.persist()
        try:
            overwrite_partitions(batch, sinks.announcements, "__batch_id")
            # sentiment sink: same rows, reference writes a 34-col variant
            # (kafka_s.py:513-556); here the projection difference
            overwrite_partitions(
                batch.drop("url", "publish_date"),
                sinks.sentiment,
                "__batch_id",
            )
            # keystore sink (Mongo analog): only the dedup keys
            overwrite_partitions(
                batch.select("only_id", "yqid", "__batch_id"),
                sinks.keystore,
                "__batch_id",
            )
        finally:
            batch.unpersist()

    return write_batch


def run_board_stream(
    spark: SparkSession,
    input_dir: str,
    out_base: str,
    checkpoint_dir: str,
    cfg: BoardConfig = NEEQ,
    rules_path: str | None = None,
) -> StreamingQuery:
    """File-sourced board stream, availableNow trigger (drains whatever is
    in ``input_dir`` then stops — the harness-friendly trigger; a
    production deployment drops the trigger and points the source at
    Kafka via sources.kafka_cdc_stream). ``rules_path``: parquet rules dim
    re-read every micro-batch (T2 live refresh)."""
    sinks = SinkPaths.under(out_base)
    stream = file_cdc_stream(spark, input_dir, board=cfg.name)
    rules_df = spark.read.parquet(rules_path) if rules_path else None
    enriched = enrich_cdc(stream, spark, cfg, rules_df=rules_df)
    # D1: at-least-once duplicates (and data-level replays) collapse on
    # the deterministic key; state = seen yqids, checkpoint-persisted
    deduped = enriched.dropDuplicates(["only_id"])
    return _drain(deduped, _fan_out(sinks), checkpoint_dir)


def run_dlq_stream(
    spark: SparkSession,
    input_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    board: str = "neeq",
) -> StreamingQuery:
    """Dead-letter queue: envelopes that fail CDC parsing are captured
    with their raw payload instead of vanishing. The reference's decode
    crashed the loop on bad input (its try/except is commented out,
    kafka_s.py:156-161); the main pipeline here silently filters them —
    this companion query makes the drop observable and replayable.

    Runs as its own consumer on the same source (the standard Kafka DLQ
    pattern: a second consumer group; for the file twin, a second
    checkpointed reader). State: none; sink is idempotent per batch."""
    from pyspark.sql import types as T

    from .sources import cdc_schema

    raw = (
        spark.readStream.format("text")
        .schema(T.StructType([T.StructField("value", T.StringType())]))
        .load(input_dir)
    )
    env = F.from_json(F.col("value"), cdc_schema(board))
    dead = raw.filter(
        (F.trim(F.col("value")) != "") & (env.isNull() | env["o"].isNull())
    ).filter(
        # $set updates are a legitimate drop, not a dead letter
        env.isNull() | env["o_set"].isNull()
    ).select(
        F.col("value").alias("raw_payload"),
        F.lit("cdc_parse_failure").alias("reason"),
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        batch = batch.withColumn("__batch_id", F.lit(batch_id))
        overwrite_partitions(batch, dlq_dir, "__batch_id")

    return _drain(dead, write, checkpoint_dir)


def run_continuous_rollup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally-maintained rollup (continuous-aggregate /
    hypertable-rollup shape): per-(hour, event_type) totals kept current
    in a queryable parquet store.

    Update output mode emits only the (window, event_type) rows each
    micro-batch touched; the foreachBatch writer overwrites exactly those
    rows' partitions. The partition key MUST equal the aggregation key —
    partitioning by window alone would wipe a window's untouched event
    types on overwrite (update mode does not re-emit unchanged rows).
    State carries the running totals across batches, so the store always
    equals the full-history aggregate without recomputing it. On a
    MERGE-capable table format (Delta/Iceberg) the same upsert keys on
    (window, type) without one directory per pair."""
    ev = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd-HH").alias("window_key"),
            F.col("window.start").alias("ws"),
            "event_type",
            "n",
            "sum_value",
        )
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch, out_dir, "window_key", "event_type")

    return _drain(agg, upsert, checkpoint_dir, "update")


#: fixed sketch geometry for the streaming quantile store — bounds must
#: be configured up front (a stream never knows its min/max); values
#: outside clamp into the edge buckets
SKETCH_LO, SKETCH_HI, SKETCH_BUCKETS = 0.0, 500.0, 128


def sketch_bucket(value):
    """Fixed-bound bucket index (0..SKETCH_BUCKETS-1) for a value col."""
    idx = F.floor(
        (value - F.lit(SKETCH_LO))
        * SKETCH_BUCKETS
        / (F.lit(SKETCH_HI) - F.lit(SKETCH_LO))
    ).cast("int")
    return F.least(F.greatest(idx, F.lit(0)), F.lit(SKETCH_BUCKETS - 1))


def estimate_quantile(bucket_counts, q: float) -> float:
    """Interpolated quantile from [(bucket, cnt)] pairs (driver-side,
    128 rows — the READ path of the sketch store, not a data-scale op)."""
    width = (SKETCH_HI - SKETCH_LO) / SKETCH_BUCKETS
    rows = sorted(bucket_counts)
    n = sum(c for _, c in rows)
    target = max(1, -(-q * n // 1))  # ceil
    cum = 0
    for b, c in rows:
        if cum + c >= target:
            frac = (target - cum) / c
            return SKETCH_LO + (b + frac) * width
        cum += c
    return SKETCH_HI


def run_streaming_quantile_sketch(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incrementally-maintained quantile sketch: the 128-bucket
    fixed-bound histogram (q_quantile_sketch's streaming twin) kept
    current in a queryable parquet store as events arrive.

    The histogram is MERGEABLE (bucket-wise sum), so streaming
    maintenance is just a stateful count per bucket: update mode emits
    only buckets each micro-batch touched, and the foreachBatch writer
    dynamic-overwrites exactly those buckets' partitions. The store
    always equals the full-history histogram — pytest proves
    incremental == batch after every arrival wave — which is how a
    100 TB pipeline serves percentile dashboards without rescanning."""
    ev = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)
    agg = (
        ev.select(sketch_bucket(F.col("value")).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch, out_dir, "b")

    return _drain(agg, upsert, checkpoint_dir, "update")


def run_windowed_event_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """E7 in streaming form: tumbling-window counts over a file-sourced
    event stream with a watermark for late data. Append mode emits a
    window only once its end passes the watermark — exactly-once final
    results, bounded state."""
    ev = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("ws"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _drain(agg, out_dir, checkpoint_dir)


def run_stream_stream_join(
    spark: SparkSession,
    clicks_dir: str,
    purchases_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> StreamingQuery:
    """Watermarked STREAM-STREAM inner join (ad-attribution shape): each
    purchase joins the clicks of the same user that happened within
    ``attribution_window`` BEFORE it. The reference has no two-stream
    operator at all (SURVEY.md §2.9); Spark buffers both sides in state
    and the event-time range condition + both watermarks bound that
    state — without them the buffers grow forever, which is the
    100 TB-scale failure mode this helper exists to demonstrate
    avoiding.

    State cleanup math: a click can only match purchases up to
    ``attribution_window`` later, so once the purchase-side watermark
    passes click.ts + window the click is evicted (and vice versa).

    ``join_type='left_outer'`` (purchases left) additionally emits each
    unmatched purchase with NULL click columns — but only once the
    watermark proves no matching click can still arrive; until then the
    row sits in state. Outer results are therefore watermark-delayed by
    construction, the price of exactly-once null emission.
    """
    clicks = (
        spark.readStream.schema(_EVENTS_CORE_SCHEMA)
        .parquet(clicks_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        spark.readStream.schema(_EVENTS_CORE_SCHEMA)
        .parquet(purchases_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
        join_type,
    ).select(
        F.col("p_user_id").alias("user_id"), "click_id", "purchase_id",
        "click_ts", "purchase_ts", "purchase_value",
    )
    return _drain(joined, out_dir, checkpoint_dir)


def run_scd2_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Incrementally-maintained SCD TYPE-2 DIMENSION STORE: the streaming
    composition of X57 (MERGE) and X75 (SCD2 intervals). Each micro-batch
    upserts new versions into a parquet store of validity intervals
    [valid_from, valid_to), is_current — the dimension table as-of
    queries join against.

    Incrementality is bucket-level: the store is partitioned by
    ``bucket = user_id % n_buckets``; a batch reads back ONLY the buckets
    its keys touch (partition-pruned scan), re-windows those keys'
    versions, and dynamic-partition-overwrite rewrites only those
    buckets. Untouched buckets are never read or written — at 100 TB with
    a few thousand buckets, maintenance cost tracks batch size, not
    dimension size. On Delta/Iceberg the same logic is a MERGE keyed on
    (user_id, event_type, valid_from)."""
    ev = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        batch = batch.withColumn("bucket", F.col("user_id") % n_buckets)
        touched = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        cols = ["user_id", "event_type", "value", "ts", "bucket"]
        try:
            prior = (
                spark.read.parquet(store_dir)
                .filter(F.col("bucket").isin(touched))  # partition-pruned
                .select(
                    "user_id", "event_type",
                    F.col("version_value").alias("value"),
                    F.col("valid_from").alias("ts"),
                    "bucket",
                )
            )
            # dedupe ACROSS the prior-store union, not just within the
            # batch: a replayed event (foreachBatch at-least-once) or a
            # duplicate arriving in a later micro-batch would otherwise
            # insert an identical version row, yielding duplicate and
            # zero-length [valid_from, valid_to) intervals.
            versions = prior.union(batch.select(cols)).dropDuplicates(
                ["user_id", "event_type", "ts", "value"]
            )
        except Exception:  # first batch: no store yet
            versions = batch.select(cols).dropDuplicates(
                ["user_id", "event_type", "ts", "value"]
            )
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id", "event_type").orderBy("ts")
        nxt = F.lead("ts").over(w)
        scd2 = versions.select(
            "user_id", "event_type",
            F.col("value").alias("version_value"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
            "bucket",
        ).localCheckpoint(eager=True)  # materialize BEFORE overwriting the
        # same files the plan reads (read-modify-write on one path)
        overwrite_partitions(scd2, store_dir, "bucket")

    return _drain(ev, upsert, checkpoint_dir)


def run_streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming MinHash-LSH near-dedup: documents arrive as a stream
    and each micro-batch is deduplicated against EVERY previously
    ingested document through an accumulating signature store — the
    continuous-ingestion form of q_near_dedup, which is how a training
    corpus actually grows.

    Per micro-batch (foreachBatch), all through ``operators.lsh``:
      1. shingle → 32-slot minhash → 8×4 band keys for the batch (one
         map pass, the batch path's own expressions);
      2. candidates = batch ⋈ batch on doc_a < doc_b plus store ⋈
         batch on doc_a != doc_b, both on band_key (``lsh.candidates``);
      3. exact-Jaccard verify ≥ 0.5 on candidates only; every flagged
         doc_b appends (doc_id, dup_of=min verified partner,
         max_jaccard) to the result log;
      4. the batch's (doc_id, band_key, hs) rows append to the store.
    The store grows by signature rows only (~100 B/doc·band) — text
    never enters it; at cluster scale the store is a bucketed table so
    step 2 is a co-located join.

    Arrival-order contract: a pair is found in the batch where its
    later-arriving doc lands, and that doc is the one flagged, its
    ``dup_of`` the smallest verified partner that arrived before it
    (or, within one batch, has a smaller doc_id). This holds for any
    arrival order; under doc_id-monotone arrival the log equals the
    doc_b side of the batch q_near_dedup pairs after every wave (both
    pinned in pytest).

    Both the store and the result log are batch_id-partitioned with
    dynamic partition overwrite (the ``idempotent_upsert`` recipe) and
    reads exclude the in-flight batch's own partition, so a foreachBatch
    replay (restart between sink write and checkpoint commit) overwrites
    its previous attempt instead of double-appending — pytest replays a
    batch and pins store and results unchanged."""
    docs = spark.readStream.schema(_DOCS_SCHEMA).parquet(input_dir)

    return _drain(
        docs,
        near_dedup_batch_fn(store_dir, out_dir),
        checkpoint_dir,
    )


def near_dedup_batch_fn(store_dir: str, out_dir: str):
    """foreachBatch body of ``run_streaming_near_dedup``, exposed at
    module level so pytest can invoke it twice with the same batch_id
    (a simulated at-least-once replay) and pin that the store and the
    result log come out unchanged."""
    from ..operators import lsh

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        bands = lsh.band_rows(lsh.shingle_sets(batch), "hs").localCheckpoint(
            eager=True
        )
        prior = store_read(sess, store_dir, exclude_batch_id=batch_id)
        dups = (
            lsh.candidates(bands, prior)
            .withColumn("jaccard", lsh.jaccard("hs_a", "hs_b"))
            .filter(F.col("jaccard") >= 0.5)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(
                F.min("doc_a").alias("dup_of"),
                F.max("jaccard").alias("max_jaccard"),
            )
        )
        idempotent_upsert(dups, batch_id, out_dir)
        idempotent_upsert(bands, batch_id, store_dir)

    return dedup_batch


def run_streaming_corpus_build(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming corpus-build funnel: X99's quality → decontamination →
    mix flag funnel maintained INCREMENTALLY as documents arrive — the
    composition of the streaming-store discipline (X182 sketch / X225
    dedup) with the batch funnel, reusing the batch path's own
    ``corpus_flags`` / ``funnel_report`` / ``grams_of`` expressions so
    incremental == batch is by construction (and pytest-pinned after
    every wave).

    State under ``state_dir`` (signature-sized; text never stored):
      - ``bench_grams/``  distinct 5-grams of benchmark-holdout docs
      - ``doc_grams/``    (doc_id, gram) for non-bench docs
      - ``flags_v{n}/``   per-doc funnel flags (q / bench / cont / kept)

    Per micro-batch (foreachBatch):
      1. the batch's benchmark docs' 5-grams append to ``bench_grams/``;
      2. batch docs get flags — quality/bench/mix are map-side,
         contamination = batch grams ⋉ accumulated bench grams
         (broadcast semi-join, the q_corpus_build shape);
      3. RETRO-RECHECK (the incremental-view-maintenance step): docs
         ingested EARLIER whose stored grams hit the batch's NEW bench
         grams flip cont=true — the delta semi-join runs old grams
         against only the new bench grams, never the full history;
      4. ``flags_v{batch}`` = retro-updated old flags ∪ batch flags;
         the per-source funnel report overwrites ``out_dir``.

    Scale: every store is columnar flags/ids (~40 B/doc, ~60 B/gram);
    step 3's cost is |history grams| ⋈ |new bench grams| with the tiny
    side broadcast — at 100 TB both gram stores become tables bucketed
    by gram so 2 and 3 are co-located joins, and flags_v{n} becomes a
    MERGE INTO a keyed table (X57) instead of version directories."""
    from ..plans.datasetops import (
        BENCH_MOD,
        corpus_flags,
        funnel_report,
        grams_of,
    )

    docs = spark.readStream.schema(_DOCS_SCHEMA).parquet(input_dir)

    bench_dir = os.path.join(state_dir, "bench_grams")
    doc_grams_dir = os.path.join(state_dir, "doc_grams")

    def flags_dir(version: int) -> str:
        return os.path.join(state_dir, f"flags_v{version}")

    def latest_flags_version(before: int | None = None) -> int | None:
        """Largest committed flags version, optionally strictly below
        ``before`` — a replayed batch must branch from the version that
        PRECEDED its first attempt, never from its own output."""
        if not os.path.isdir(state_dir):
            return None
        versions = [
            int(name[len("flags_v"):])
            for name in os.listdir(state_dir)
            if name.startswith("flags_v")
        ]
        if before is not None:
            versions = [v for v in versions if v < before]
        return max(versions) if versions else None

    def build_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        g = grams_of(batch)
        new_bench = (
            g.filter(F.col("doc_id") % BENCH_MOD == 0)
            .select("gram")
            .distinct()
            .localCheckpoint(eager=True)
        )
        batch_doc_grams = (
            g.filter(F.col("doc_id") % BENCH_MOD != 0)
            .select("doc_id", "gram")
            .distinct()
            .localCheckpoint(eager=True)
        )
        prior_bench = store_read(sess, bench_dir, exclude_batch_id=batch_id)
        if prior_bench is not None:
            all_bench = prior_bench.union(new_bench).distinct()
        else:
            all_bench = new_bench
        hits = (
            batch_doc_grams.join(F.broadcast(all_bench), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        new_flags = corpus_flags(batch, hits)

        # version key IS the batch_id (deterministic under replay): a
        # replayed batch branches from the last version BEFORE its own
        # and overwrites its previous attempt, never stacks on it
        prev = latest_flags_version(before=batch_id)
        if prev is not None:
            old_flags = sess.read.parquet(flags_dir(prev))
            prior_grams = store_read(
                sess, doc_grams_dir, exclude_batch_id=batch_id
            )
            if prior_grams is not None:
                retro = (
                    prior_grams
                    .join(F.broadcast(new_bench), "gram", "left_semi")
                    .select("doc_id")
                    .distinct()
                    .withColumn("retro", F.lit(1))
                )
                flags = (
                    old_flags.join(retro, "doc_id", "left")
                    .withColumn(
                        "cont", F.col("cont") | F.col("retro").isNotNull()
                    )
                    .drop("retro")
                    .unionByName(new_flags)
                )
            else:
                flags = old_flags.unionByName(new_flags)
        else:
            flags = new_flags
        flags.write.mode("overwrite").parquet(flags_dir(batch_id))
        idempotent_upsert(new_bench, batch_id, bench_dir)
        idempotent_upsert(batch_doc_grams, batch_id, doc_grams_dir)
        funnel_report(sess.read.parquet(flags_dir(batch_id))).write.mode(
            "overwrite"
        ).parquet(out_dir)

    return _drain(docs, build_batch, checkpoint_dir)


def run_streaming_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    centroids_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    tau: float = 0.4,
) -> StreamingQuery:
    """Streaming SemDeDup (round-5 verdict ask #6): embedding vectors
    arrive as a stream and every micro-batch is semantically
    deduplicated against the full ingest history through the same
    cluster-bounded pair stage as the batch operator
    (operators/semdedup.py) — the continuous-ingestion form of
    q_semantic_dedup, composed exactly like the X225 MinHash store.

    Per micro-batch (foreachBatch):
      1. assign the batch's vectors to the BROADCAST centroid codebook
         read from ``centroids_dir`` (trained offline with
         ``operators.semdedup.train_centroids`` — at corpus scale on a
         sample; the assignment pass never shuffles the history);
      2. candidates = (store ∪ batch) members ⋈ batch members on
         cluster id with a_id < b_id — so intra-batch AND cross-history
         near-dups surface in one equi-join, bounded by cluster width;
      3. rounded cosine ≥ tau marks b as a dup of min(a_id) — the
         accumulating store keeps ALL seen members (not only kept
         ones): the batch gate's dup relation tests every lower-id
         pair, dropped or not, and keeping only survivors would
         diverge from it on chains (a~b, b~c, a!~c);
      4. the batch's (vec_id, cid, emb, nrm) rows append to the store,
         and every batch row appends its verdict
         (vec_id, cluster_id, kept, dup_of) to the result log.
    When arrival order follows vec_id, the accumulated log provably
    equals batch ``semantic_dedup`` with the same codebook (pytest:
    incremental == batch after every wave). Store rows are
    (id, cid, vector, norm) — ~0.5 KB/vector; at cluster scale the
    store is bucketed by cid so step 2 is a co-located join.

    Store and result log are batch_id-partitioned (dynamic partition
    overwrite, the ``idempotent_upsert`` recipe) with reads excluding
    the in-flight batch's partition — a foreachBatch replay overwrites
    its previous attempt instead of double-appending."""
    emb = spark.readStream.schema(_VECS_SCHEMA).parquet(input_dir)

    return _drain(
        emb,
        semantic_dedup_batch_fn(centroids_dir, store_dir, out_dir, tau),
        checkpoint_dir,
    )


def semantic_dedup_batch_fn(
    centroids_dir: str, store_dir: str, out_dir: str, tau: float = 0.4
):
    """foreachBatch body of ``run_streaming_semantic_dedup``, exposed so
    pytest can replay a batch_id and pin idempotency."""
    from ..functions import vectors
    from ..operators.semdedup import assign_clusters

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        cent = sess.read.parquet(centroids_dir)
        e = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        members = (
            assign_clusters(e, cent)
            .select(
                "vec_id",
                "cid",
                "emb",
                vectors.norm("emb").alias("nrm"),
            )
            .localCheckpoint(eager=True)
        )
        prior = store_read(sess, store_dir, exclude_batch_id=batch_id)
        known = prior.unionByName(members) if prior is not None else members
        a = known.select(
            F.col("vec_id").alias("a_id"),
            "cid",
            F.col("emb").alias("a_emb"),
            F.col("nrm").alias("a_nrm"),
        )
        b = members.select(
            F.col("vec_id").alias("b_id"),
            F.col("cid").alias("b_cid"),
            F.col("emb").alias("b_emb"),
            F.col("nrm").alias("b_nrm"),
        )
        # try_divide: zero-norm embeddings yield NULL (fails the >= tau
        # test) instead of an ANSI divide-by-zero error.
        cos = F.try_divide(
            vectors.dot("a_emb", "b_emb"),
            F.col("a_nrm") * F.col("b_nrm"),
        )
        dups = (
            a.join(
                b,
                (F.col("cid") == F.col("b_cid"))
                & (F.col("a_id") < F.col("b_id")),
            )
            .filter(F.round(cos, 6) >= F.lit(tau))
            .groupBy("b_id")
            .agg(F.min("a_id").alias("dup_of"))
        )
        verdicts = members.join(
            dups, members.vec_id == dups.b_id, "left"
        ).select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        idempotent_upsert(verdicts, batch_id, out_dir)
        idempotent_upsert(members, batch_id, store_dir)

    return dedup_batch


def run_streaming_late_router(
    spark: SparkSession,
    input_dir: str,
    main_dir: str,
    late_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lateness_minutes: int = 60,
) -> StreamingQuery:
    """Late-data dead-letter routing: events whose event time lags the
    observed high-water mark by more than ``lateness_minutes`` go to a
    LATE sink for reconciliation instead of silently corrupting
    downstream windows — the operational companion to the engine's
    watermarked aggregations (T4/X319: a watermark DROPS late rows;
    production pipelines also need to SEE what was dropped, audit it
    — X338 — and backfill).

    Per micro-batch (foreachBatch):
      1. read the persisted high-water mark (max event time seen in
         PRIOR batches — the cross-restart analog of the engine
         watermark, kept in a 1-row parquet state dir);
      2. rows with ts < hwm - lateness route to ``late_dir``, the rest
         to ``main_dir`` — every input row lands in exactly one sink;
      3. the state advances to max(hwm, batch max ts).
    Deterministic for a fixed arrival-wave order (the hwm is a max —
    order-insensitive WITHIN a batch), so pytest replays waves and
    pins the exact split."""
    events = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)

    def route(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # hwm state is kept PER BATCH (batch_id-partitioned rows, read
        # as max over PRIOR batches) so a replayed batch routes with the
        # same pre-batch hwm as its first attempt — reading a single
        # mutable hwm row would misroute the replay after the first
        # attempt advanced it
        prior_state = store_read(sess, state_dir, exclude_batch_id=batch_id)
        hwm = None
        if prior_state is not None:
            hwm = prior_state.agg(F.max("hwm").alias("m")).collect()[0]["m"]
        batch = batch.localCheckpoint(eager=True)
        if hwm is not None:
            cutoff = F.lit(hwm) - F.expr(
                f"INTERVAL {lateness_minutes} MINUTES"
            )
            is_late = F.col("ts") < cutoff
        else:
            is_late = F.lit(False)
        # batch_id-partitioned dynamic overwrite: a replayed batch
        # overwrites its own prior routing instead of duplicating rows
        idempotent_upsert(batch.filter(is_late), batch_id, late_dir)
        idempotent_upsert(batch.filter(~is_late), batch_id, main_dir)
        new_hwm = batch.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
        if new_hwm is not None and (hwm is None or new_hwm > hwm):
            hwm = new_hwm
        if hwm is not None:
            idempotent_upsert(
                local_frame(sess, [(hwm,)], "hwm timestamp"),
                batch_id,
                state_dir,
            )
            # hwm is a running max (monotone per batch), so only a
            # recent suffix of partitions is ever needed — compact the
            # rest or the state read degrades with stream age
            prune_batch_partitions(state_dir, batch_id)

    return _drain(events, route, checkpoint_dir)


def idempotent_upsert(batch: DataFrame, batch_id: int, out_dir: str) -> None:
    """Exactly-once-per-batch sink write: the micro-batch's rows land
    under a DETERMINISTIC partition path keyed by batch_id, written
    with dynamic partition overwrite — so a replayed batch (restart
    between sink write and checkpoint commit, the classic
    at-least-once window) OVERWRITES its own previous attempt instead
    of appending duplicates.  This is the standard recipe for making
    an append-only file sink effectively exactly-once without a
    transactional table format; with one, the same batch_id becomes
    the transaction's idempotency key (txnAppId/txnVersion)."""
    overwrite_partitions(
        batch.withColumn("batch_id", F.lit(batch_id)), out_dir, "batch_id"
    )


def run_streaming_idempotent_sink(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming wrapper for ``idempotent_upsert``: per-event-type
    counts per micro-batch written exactly-once-per-batch. pytest
    replays a batch function call and pins zero duplication."""
    events = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        idempotent_upsert(agg, batch_id, out_dir)

    return _drain(events, sink, checkpoint_dir)


def run_streaming_image_dedup(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: int = 7,
) -> StreamingQuery:
    """Streaming perceptual image dedup (X519): embedding-derived
    images (the q_jpeg_dedup base+twin pair per vector, rendered as
    REAL baseline JPEGs and decoded through operators/jpeg) arrive as
    a stream; each micro-batch's aHashes are verified against the
    accumulating signature store by the X183 hamming-band discipline —
    8 bands x 8 bits candidates, exact popcount <= threshold verify —
    and flagged pairs append to the result log, signatures to the
    store.  The image analog of the X225 MinHash text store: the store
    carries (img_id, phash, band_key) rows (~24 B/row), never pixels;
    when arrival order follows vec_id the accumulated pairs equal the
    batch q_jpeg_dedup output (pytest, every wave)."""
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import perceptual_hash

    emb = spark.readStream.schema(_VECS_SCHEMA).parquet(input_dir)

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        px = F.transform(
            F.col("embedding"),
            lambda v: F.least(
                F.greatest(
                    F.round(
                        (v.cast("double") + F.lit(1.0)) * F.lit(127.5), 0
                    ).cast("bigint"),
                    F.lit(0),
                ),
                F.lit(255),
            ),
        )
        base = batch.select(F.col("vec_id").alias("img_id"), px.alias("px"))
        twin = base.select(
            (F.col("img_id") + 10_000_000).alias("img_id"),
            F.concat(
                F.array(F.least(F.element_at("px", 1) + 1, F.lit(255))),
                F.slice("px", 2, 63),
            ).alias("px"),
        )
        quant = base.unionByName(twin)

        def build(batches):
            import pandas as pd

            for pdf in batches:
                payloads = []
                for vals in pdf["px"]:
                    rgb = b"".join(
                        bytes((g, g, g)) * 8
                        for g in (
                            int(v)
                            for row in range(8)
                            for _ in range(8)
                            for v in vals[row * 8 : row * 8 + 8]
                        )
                    )
                    payloads.append(encode_jpeg(64, 64, rgb, quality=100))
                yield pd.DataFrame(
                    {"doc_id": pdf["img_id"], "payload": payloads}
                )

        hashes = perceptual_hash(
            quant.mapInPandas(build, schema="doc_id long, payload binary")
        ).select(F.col("doc_id").alias("img_id"), "phash")
        bands = hashes.select(
            "img_id",
            "phash",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda k: k * F.lit(256)
                    + F.call_function("shiftright", F.col("phash"), k * 8)
                    .bitwiseAND(F.lit(0xFF)),
                )
            ).alias("band_key"),
        ).localCheckpoint(eager=True)
        prior_sig = store_read(sess, store_dir, exclude_batch_id=batch_id)
        known = (
            prior_sig.unionByName(bands) if prior_sig is not None else bands
        )
        # join direction: store-side x batch-side with id INEQUALITY,
        # then normalize to (min, max) — twin ids are NOT monotone with
        # arrival order (an early wave's twin id exceeds a later wave's
        # base id), so the X225 store's a<b spelling would silently
        # drop a cross-wave pair whose smaller id arrives later
        a, b = known.alias("a"), bands.alias("b")
        ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
        pairs = (
            a.join(
                b,
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.img_id") != F.col("b.img_id")),
            )
            .select(
                F.least(F.col("a.img_id"), F.col("b.img_id")).alias("img_a"),
                F.greatest(F.col("a.img_id"), F.col("b.img_id")).alias(
                    "img_b"
                ),
                ham.cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= threshold)
            .dropDuplicates(["img_a", "img_b"])
        )
        # de-dup against pairs already emitted in earlier batches (the
        # same pair can re-surface once both sides are in the store);
        # exclude this batch's own partition so a replay re-emits its
        # pairs into its own overwritten partition instead of dropping
        # them
        prior_pairs = store_read(sess, out_dir, exclude_batch_id=batch_id)
        if prior_pairs is not None:
            pairs = pairs.join(
                prior_pairs.select("img_a", "img_b"),
                ["img_a", "img_b"],
                "left_anti",
            )
        idempotent_upsert(pairs, batch_id, out_dir)
        idempotent_upsert(bands, batch_id, store_dir)

    return _drain(emb, dedup_batch, checkpoint_dir)


def run_streaming_dedup_within_watermark(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """X545 — streaming deduplication with BOUNDED state via
    ``dropDuplicatesWithinWatermark``: duplicate event_ids arriving
    within the watermark horizon are suppressed, and — unlike plain
    ``dropDuplicates``, whose key set grows forever — state for keys
    older than the watermark is evicted, so memory is proportional to
    the horizon, not the stream's lifetime.  This is the engine-level
    answer to the reference's dedup-before-insert pattern
    (kafka_stream/kafka_s.py: Mongo upsert guard) for at-least-once
    sources: replayed deliveries collapse inside the engine before any
    sink sees them.

    At 100 TB/day the same topology holds: state is hash-partitioned
    by key across executors and each partition evicts independently on
    the global watermark."""
    ev = spark.readStream.schema(_EVENTS_CORE_SCHEMA).parquet(input_dir)
    dd = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _drain(dd, out_dir, checkpoint_dir)


def read_stream_state(spark: SparkSession, checkpoint_dir: str):
    """X546 — the Spark 4 STATE DATA SOURCE: open a streaming query's
    checkpointed state store as a plain batch DataFrame
    (``spark.read.format("statestore")``).  This is the operational
    window the reference architecture never had — its only 'state' was
    a mutable driver dict, inspectable only with print statements; here
    the engine's internal aggregation state is itself queryable with
    the full DataFrame API (how many keys, which windows are open,
    what partial aggregates hold before finalization) without touching
    the running query.

    Returns the (key, value) state rows of state store 'default' for
    the last committed batch."""
    return spark.read.format("statestore").load(checkpoint_dir)


def run_streaming_semantic_dedup_routed(
    spark: SparkSession,
    input_dir: str,
    centroids_dir: str,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    tau: float = 0.4,
    nprobe: int = 2,
) -> StreamingQuery:
    """ANN-ROUTED streaming SemDeDup (round-5 verdict ask #7): the X512
    store composed with the IVF routing of operators/ann — each
    micro-batch's vectors verify only against store members whose
    ASSIGNED cell is among the batch vector's ``nprobe`` PROBED cells,
    instead of the whole cluster.

    Why this is the scale path: the coarse k=8 store's verify cost per
    batch is |batch|·(store/k) — cluster width grows linearly with the
    store. Routing lets the codebook be arbitrarily FINE (k ~ sqrt(n)
    of the expected corpus) without losing near-boundary pairs, because
    nprobe > 1 probes the neighboring cells a fine partition splits
    across; per-batch candidates are then |batch|·nprobe·(store/k),
    with k two orders of magnitude larger.

    Exactness contract: when ids arrive in order, the accumulated
    verdict log EQUALS batch operators/semdedup.semantic_dedup_routed
    with the same codebook/tau/nprobe (pytest, every wave) — the
    asymmetric candidate rule (member's assigned cell ∈ query's probed
    cells) is what makes incremental replay exact. Store rows are
    (vec_id, cell, emb, nrm); store and result log are
    batch_id-partitioned (idempotent_upsert) so foreachBatch replays
    overwrite their own attempt."""
    emb = spark.readStream.schema(_VECS_SCHEMA).parquet(input_dir)

    return _drain(
        emb,
        semantic_dedup_routed_batch_fn(
            centroids_dir, store_dir, out_dir, tau, nprobe
        ),
        checkpoint_dir,
    )


def semantic_dedup_routed_batch_fn(
    centroids_dir: str,
    store_dir: str,
    out_dir: str,
    tau: float = 0.4,
    nprobe: int = 2,
):
    """foreachBatch body of ``run_streaming_semantic_dedup_routed``,
    exposed for replay-idempotency and per-batch-cost tests."""
    from ..functions import vectors
    from ..operators.semdedup import _probe_assignments

    def dedup_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        cent = sess.read.parquet(centroids_dir)
        e = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        ranked = _probe_assignments(e, cent, nprobe).localCheckpoint(
            eager=True
        )
        assigned = ranked.filter(F.col("prn") == 1).select(
            "vec_id",
            F.col("cid").alias("cell"),
            "emb",
            vectors.norm("emb").alias("nrm"),
        )
        probes = ranked.select(
            F.col("vec_id").alias("b_id"),
            F.col("cid").alias("cell"),
            F.col("emb").alias("b_emb"),
            vectors.norm("emb").alias("b_nrm"),
        )
        prior = store_read(sess, store_dir, exclude_batch_id=batch_id)
        members = (
            prior.unionByName(assigned) if prior is not None else assigned
        )
        a = members.select(
            F.col("vec_id").alias("a_id"),
            "cell",
            F.col("emb").alias("a_emb"),
            F.col("nrm").alias("a_nrm"),
        )
        cos = F.try_divide(
            vectors.dot("a_emb", "b_emb"),
            F.col("a_nrm") * F.col("b_nrm"),
        )
        dups = (
            probes.join(a, "cell")
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(F.round(cos, 6) >= F.lit(tau))
            .groupBy("b_id")
            .agg(F.min("a_id").alias("dup_of"))
        )
        verdicts = assigned.join(
            dups, assigned.vec_id == dups.b_id, "left"
        ).select(
            "vec_id",
            F.col("cell").alias("cluster_id"),
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        idempotent_upsert(verdicts, batch_id, out_dir)
        idempotent_upsert(assigned, batch_id, store_dir)

    return dedup_batch


def run_streaming_sequence_pack(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = 256,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Streaming sequence packing (the incremental twin of the X600
    batch packer): documents pack into fixed-``budget`` training
    sequences as they ARRIVE, continuing each bucket's open sequence
    across micro-batches via a versioned state store of
    (bucket, open seq, fill, slot). Within a batch the order is
    (len DESC, doc_id) — NFD locally, next-fit across batches, the
    strict-capacity invariant (fill ≤ budget) holds globally.

    Replay safety is the full composed recipe: assignments are
    batch_id-partitioned appends (``idempotent_upsert``) written BEFORE
    the state commits, and the state is an order-dependent versioned
    fold (``versioned_fold_batch_fn``). A replay of a committed batch
    is a no-op (its assignments were complete before the commit); an
    uncommitted one re-packs from the pre-batch state and overwrites
    its own assignment partition."""
    docs = spark.readStream.schema(_DOCS_SCHEMA).parquet(input_dir)
    return _drain(
        docs,
        sequence_pack_batch_fn(out_dir, state_dir, budget, n_buckets),
        checkpoint_dir,
    )


def sequence_pack_batch_fn(
    out_dir: str, state_dir: str, budget: int = 256, n_buckets: int = 16
):
    """foreachBatch body of ``run_streaming_sequence_pack``, exposed so
    pytest can replay a batch_id and pin byte-identical output."""
    import pandas as pd

    from ..functions import text

    def pack(prior: DataFrame | None, batch: DataFrame, batch_id: int):
        items = batch.select(
            "doc_id",
            F.least(F.size(text.tokens(F.col("text"))), F.lit(budget))
            .cast("int")
            .alias("len"),
            (F.col("doc_id") % n_buckets).cast("int").alias("bucket"),
        )
        if prior is None:
            prior = local_frame(
                batch.sparkSession,
                [], "bucket int, open_seq int, open_fill int, open_slot int"
            )
        joined = items.join(F.broadcast(prior), "bucket", "left")

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(
                ["len", "doc_id"], ascending=[False, True]
            ).reset_index(drop=True)
            seq = int(pdf["open_seq"].iloc[0]) if pd.notna(
                pdf["open_seq"].iloc[0]
            ) else 1
            fill = int(pdf["open_fill"].iloc[0]) if pd.notna(
                pdf["open_fill"].iloc[0]
            ) else 0
            slot = int(pdf["open_slot"].iloc[0]) if pd.notna(
                pdf["open_slot"].iloc[0]
            ) else 0
            seqs, slots, fills = [], [], []
            for ln in pdf["len"]:
                if fill + int(ln) > budget:
                    seq += 1
                    fill = 0
                    slot = 0
                fill += int(ln)
                slot += 1
                seqs.append(seq)
                slots.append(slot)
                fills.append(fill)
            return pd.DataFrame(
                {
                    "bucket": pdf["bucket"],
                    "seq": seqs,
                    "slot": slots,
                    "doc_id": pdf["doc_id"],
                    "len": pdf["len"],
                    "fill": fills,
                }
            )

        out = joined.groupBy("bucket").applyInPandas(
            fold,
            "bucket int, seq int, slot int, doc_id long, len int, fill int",
        ).localCheckpoint(eager=True)
        idempotent_upsert(out, batch_id, out_dir)
        new_state = (
            out.groupBy("bucket")
            .agg(
                F.max_by(
                    F.struct("seq", "fill", "slot"),
                    F.struct("seq", "slot"),
                ).alias("s")
            )
            .select(
                "bucket",
                F.col("s.seq").alias("open_seq"),
                F.col("s.fill").alias("open_fill"),
                F.col("s.slot").alias("open_slot"),
            )
        )
        return prior.join(
            new_state.select("bucket"), "bucket", "left_anti"
        ).unionByName(new_state)

    return versioned_fold_batch_fn(state_dir, pack)


# ---------------------------------------------------------------------------
# X616 — the full reference-pipeline replacement story in one witness:
# custom stream source → enrich/dedup → idempotent sink + versioned store,
# exactly-once under a mid-batch crash (round-7 verdict "Next round" #6)
# ---------------------------------------------------------------------------


def cdcgen_enrich(df: DataFrame) -> DataFrame:
    """Shared batch/stream enrich for the cdcgen exactly-once witness:
    insert-only filter (the reference's ``if 'o' in data`` gate),
    deterministic surrogate key, title stats — a pure Column transform
    so the streaming result can be checked ≡ the batch read of the
    SAME custom source."""
    return df.filter(F.col("op") == "i").select(
        "seq",
        "st_code",
        "title",
        F.md5(F.concat_ws("|", "st_code", "title")).alias("only_id"),
        F.size(F.split("title", " ")).cast("long").alias("n_words"),
    )


def cdcgen_batch_fn(out_dir: str, state_dir: str, fail_flag: str | None = None):
    """foreachBatch body composing BOTH exactly-once recipes in the
    order that creates the classic partial-failure window: (1) the
    enriched rows land batch_id-partitioned with dynamic overwrite
    (``idempotent_upsert``); (2) per-code running counts fold into the
    VERSIONED merged store (``merged_store_apply`` — _SUCCESS commit
    point, replay guard).  ``fail_flag``: path to a file holding a
    batch id — when that batch first runs, the function crashes AFTER
    the sink write but BEFORE the store commit (and removes the flag),
    simulating a mid-batch kill.  On restart Spark replays the batch
    from its offset log (the SimpleDataSourceStreamReader's
    readBetweenOffsets path): the sink overwrite replaces the partial
    attempt's partition, the store — never committed — folds exactly
    once.

    Not a ``StoreSpec``: the witness must write its sink BEFORE its
    store, inside the same batch, to open that crash window."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        enriched = cdcgen_enrich(batch).dropDuplicates(["seq"])
        enriched.persist()
        try:
            idempotent_upsert(enriched, batch_id, out_dir)
            if (
                fail_flag
                and os.path.exists(fail_flag)
                and batch_id == int(open(fail_flag).read())
            ):
                os.remove(fail_flag)
                raise RuntimeError(
                    "injected mid-batch crash: sink written, store not"
                )
            part = enriched.groupBy("st_code").agg(
                F.count("*").cast("long").alias("n"),
                F.sum("n_words").cast("long").alias("words"),
            )
            merged_store_apply(
                part, state_dir, batch_id, Cells("state", ("st_code",)).combine
            )
        finally:
            enriched.unpersist()

    return fn


def run_cdcgen_pipeline(
    spark: SparkSession,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    rows: int = 400,
    batch_size: int = 100,
    fail_flag: str | None = None,
) -> StreamingQuery:
    """End-to-end exactly-once pipeline over the registered custom
    Python DataSource (sources/pysource ``cdcgen``): micro-batch
    stream → insert-only enrich/dedup → idempotent batch-partitioned
    sink + versioned per-code store.  The source feed never "ends"
    (a live CDC topic doesn't), so callers poll the sink and stop —
    exactly how tests/test_pysource.py drives it; killed and resumed
    with the same checkpoint, the composition converges on the batch
    answer (pytest-pinned, including an injected mid-batch crash)."""
    from ..sources.pysource import register

    register(spark)
    stream = (
        spark.readStream.format("cdcgen")
        .option("rows", str(rows))
        .option("batch_size", str(batch_size))
        .load()
    )
    # not _drain: availableNow would wait for a source that never ends,
    # so this query runs on the default trigger until the caller stops it
    return (
        stream.writeStream.foreachBatch(
            cdcgen_batch_fn(out_dir, state_dir, fail_flag)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_streaming_elo(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X686 — live arena leaderboard (X685's streaming face): the Elo
    fold is ORDER-DEPENDENT, so unlike the additive stores the state
    is a versioned rating VECTOR per arena plus the dangling unpaired
    event (games pair consecutive events, and a micro-batch boundary
    can split a pair). Each batch folds only its NEW games, in event
    order, from the stored vector — exact integer milli-points all
    the way (plans/round9b.elo_fold), so incremental == batch is an
    identity, not a tolerance, after every commit.

    Correctness contract: arrival must be event-time-ordered across
    batches (a stream reading an ordered log is; cross-batch late
    data would need the X574-style versioned replay instead). The
    read side (elo_from_store) emits the exact q_elo_ratings shape.

    Scale: state is 8 ratings + 1 carry row per arena — O(arenas),
    independent of history; each batch shuffles only its own events
    once (the cogroup), never rescans the log."""
    events = spark.readStream.schema(_EVENTS_SCHEMA).parquet(input_dir)

    return _drain(
        events,
        versioned_fold_batch_fn(store_dir, elo_state_fold),
        checkpoint_dir,
    )


_ELO_STATE_SCHEMA = (
    "event_type string, player long, r_milli long, n_games long, "
    "carry_user long, carry_value double, carry_ts timestamp, "
    "carry_event_id long"
)


def elo_state_fold(
    existing: DataFrame | None, batch: DataFrame, batch_id: int
) -> DataFrame:
    """(state-so-far, new events) → new state: per arena, replay
    [stored carry] + batch events in (ts, event_id) order through the
    exact integer fold. Rows with player >= 0 are the rating vector;
    the single player = -1 row is the dangling unpaired event (NULL
    user when none)."""
    from ..plans.round9b import _ELO_INIT, _ELO_NP, elo_fold

    sess = batch.sparkSession
    ev = batch.select(
        "event_type", "ts", "event_id", "user_id", "value"
    )
    if existing is None:
        existing = local_frame(sess, [], _ELO_STATE_SCHEMA)

    def fn(key, state_pdf, ev_pdf):
        import pandas as pd

        event_type = key[0]
        r = [_ELO_INIT] * _ELO_NP
        ng = [0] * _ELO_NP
        carry = None  # (user_id, value, ts, event_id)
        for row in state_pdf.itertuples():
            if row.player >= 0:
                r[int(row.player)] = int(row.r_milli)
                ng[int(row.player)] = int(row.n_games)
            elif row.carry_user is not None and not pd.isna(row.carry_user):
                carry = (
                    int(row.carry_user),
                    float(row.carry_value),
                    row.carry_ts,
                    int(row.carry_event_id),
                )
        ev_pdf = ev_pdf.sort_values(["ts", "event_id"])
        seq = list(
            zip(
                (int(x) for x in ev_pdf["user_id"]),
                (float(x) for x in ev_pdf["value"]),
                ev_pdf["ts"],
                (int(x) for x in ev_pdf["event_id"]),
            )
        )
        if carry is not None:
            seq.insert(0, carry)
        games = []
        i = 0
        while i + 1 < len(seq):
            ua, va = seq[i][0], seq[i][1]
            ub, vb = seq[i + 1][0], seq[i + 1][1]
            pa, pb = ua % _ELO_NP, ub % _ELO_NP
            if pa != pb:
                games.append((pa, pb, 2 if va > vb else (0 if va < vb else 1)))
            i += 2
        new_carry = seq[-1] if len(seq) % 2 == 1 else None
        elo_fold(games, r, ng)
        out = {
            "event_type": [event_type] * (_ELO_NP + 1),
            "player": list(range(_ELO_NP)) + [-1],
            "r_milli": r + [0],
            "n_games": ng + [0],
            "carry_user": [None] * _ELO_NP
            + [new_carry[0] if new_carry else None],
            "carry_value": [None] * _ELO_NP
            + [new_carry[1] if new_carry else None],
            "carry_ts": [None] * _ELO_NP
            + [new_carry[2] if new_carry else None],
            "carry_event_id": [None] * _ELO_NP
            + [new_carry[3] if new_carry else None],
        }
        return pd.DataFrame(out)

    return (
        existing.groupBy("event_type")
        .cogroup(ev.groupBy("event_type"))
        .applyInPandas(fn, schema=_ELO_STATE_SCHEMA)
    )


def elo_from_store(cells: DataFrame) -> DataFrame:
    """Store rows → the q_elo_ratings output shape (arenas with at
    least one folded game, ratings in points)."""
    played = (
        cells.filter(F.col("player") >= 0)
        .groupBy("event_type")
        .agg(F.sum("n_games").alias("tg"))
        .filter(F.col("tg") > 0)
        .select("event_type")
    )
    return (
        cells.filter(F.col("player") >= 0)
        .join(played, "event_type")
        .select(
            "event_type",
            "player",
            (F.col("r_milli") / F.lit(1000.0)).alias("rating"),
            "n_games",
        )
        .orderBy("event_type", "player")
    )


def run_streaming_ivm(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X693 — incremental view maintenance of a two-sided join view
    (the DBToaster/Materialize/DBSP delta-join rule) over a
    MULTIPLEXED CDC stream (one feed carrying inserts for both base
    tables — the reference's own wire shape, kafka_s.py multiplexes
    table payloads the same way): per micro-batch

        ΔV = Δa ⋈ B  +  A ⋈ Δb  +  Δa ⋈ Δb

    where A/B are the key-grouped counts of the rows seen so far.
    The view is never recomputed from history; state is O(distinct
    join keys) — the honest lower bound for two-sided maintenance.

    Exactly-once: three sub-stores (view, a_state, b_state) each
    guarded by merged_store_apply under the SAME batch_id, committed
    view-first. ΔV is computed from the pre-batch states, and because
    all three guards share the batch_id, a replay recomputes an
    identical ΔV (view commits first, so when the view's guard has
    not yet committed neither state sub-store has) — a crash between
    commits completes the missing sub-stores with the same deltas.

    Not a ``StoreSpec``: ΔV reads the PRE-batch A and B states, so the
    view's per-batch partial is not a function of the batch alone.

    Input schema: side ('a'|'b'), k (join key), attr (the grouped
    dimension: orders priority for side a, lineitem returnflag for
    side b)."""
    feed = spark.readStream.schema("side string, k long, attr string").parquet(
        input_dir
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        da = (
            batch.filter(F.col("side") == "a")
            .groupBy("k", F.col("attr").alias("priority"))
            .agg(F.count("*").alias("na"))
        ).localCheckpoint(eager=True)
        db = (
            batch.filter(F.col("side") == "b")
            .groupBy("k", F.col("attr").alias("flag"))
            .agg(F.count("*").alias("nb"))
        ).localCheckpoint(eager=True)
        a_dir = os.path.join(store_dir, "a_state")
        b_dir = os.path.join(store_dir, "b_state")
        v_dir = os.path.join(store_dir, "view")
        a_state = merged_store_read(sess, a_dir)
        b_state = merged_store_read(sess, b_dir)
        if a_state is None:
            a_state = local_frame(sess, [], "k long, priority string, na long")
        if b_state is None:
            b_state = local_frame(sess, [], "k long, flag string, nb long")
        parts = []
        # Δa ⋈ B (pre-batch), A (pre-batch) ⋈ Δb, Δa ⋈ Δb
        for left, right in ((da, b_state), (a_state, db), (da, db)):
            parts.append(
                left.join(right, "k").select(
                    "priority",
                    "flag",
                    (F.col("na") * F.col("nb")).alias("n_rows"),
                )
            )
        dview = (
            parts[0]
            .unionByName(parts[1])
            .unionByName(parts[2])
            .groupBy("priority", "flag")
            .agg(F.sum("n_rows").cast("long").alias("n_rows"))
        ).localCheckpoint(eager=True)
        merged_store_apply(
            dview, v_dir, batch_id, Cells("view", ("priority", "flag")).combine
        )
        merged_store_apply(
            da, a_dir, batch_id, Cells("a_state", ("k", "priority")).combine
        )
        merged_store_apply(
            db, b_dir, batch_id, Cells("b_state", ("k", "flag")).combine
        )

    return _drain(feed, fold, checkpoint_dir)


def ivm_view_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Store view cells → the q_ivm_join_view output shape (zero-count
    cells pruned: a delta can legitimately contribute 0 rows)."""
    cells = merged_store_read(spark, os.path.join(store_dir, "view"))
    return (
        cells.filter(F.col("n_rows") > 0)
        .select("priority", "flag", "n_rows")
        .orderBy("priority", "flag")
    )


# ---------------------------------------------------------------------------
# X726 — streaming SPRT monitor (X721's streaming face)
# ---------------------------------------------------------------------------

_SPRT_STATE_SCHEMA = (
    "event_type string, t long, a long, decided int, "
    "step_cross long, a_cross long"
)


def sprt_state_fold(
    existing: DataFrame | None, batch: DataFrame, batch_id: int
) -> DataFrame:
    """(state-so-far, new events) → new state: per arena, continue
    Wald's LLR walk over the batch's events in (ts, event_id) order.
    State is O(1) per arena: total events t, running successes a, and
    — once a boundary is crossed — the frozen (step_cross, a_cross).
    The walk is exact micro-integer (plans/round10b constants), so
    incremental ≡ batch is an identity. Unlike the additive stores,
    the DECISION is order-dependent (which step first crosses), the
    X686 family; t/a themselves are associative."""
    from ..plans.round10b import _SPRT_A, _SPRT_L0, _SPRT_L1, _SPRT_THRESH

    sess = batch.sparkSession
    ev = batch.select("event_type", "ts", "event_id", "value")
    if existing is None:
        existing = local_frame(sess, [], _SPRT_STATE_SCHEMA)

    def fn(key, state_pdf, ev_pdf):
        import pandas as pd

        event_type = key[0]
        t, a, decided, step_cross, a_cross = 0, 0, 0, 0, 0
        for row in state_pdf.itertuples():
            t, a = int(row.t), int(row.a)
            decided = int(row.decided)
            step_cross, a_cross = int(row.step_cross), int(row.a_cross)
        ev_pdf = ev_pdf.sort_values(["ts", "event_id"])
        for v in ev_pdf["value"]:
            t += 1
            if decided:
                continue
            a += int(float(v) >= _SPRT_THRESH)
            llr6 = a * _SPRT_L1 + (t - a) * _SPRT_L0
            if llr6 >= _SPRT_A or llr6 <= -_SPRT_A:
                decided, step_cross, a_cross = 1, t, a
        return pd.DataFrame(
            {
                "event_type": [event_type],
                "t": [t],
                "a": [a],
                "decided": [decided],
                "step_cross": [step_cross],
                "a_cross": [a_cross],
            }
        )

    return (
        existing.groupBy("event_type")
        .cogroup(ev.groupBy("event_type"))
        .applyInPandas(fn, schema=_SPRT_STATE_SCHEMA)
    )


def run_streaming_sprt(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X726 — always-on sequential test monitor: the SPRT LLR walk
    (q_sprt_decision) maintained per arena under micro-batch arrival.
    Exactly-once via the versioned merged store; arrival must be
    event-time-ordered across batches (ordered-log contract, as X686).

    Scale: state is 5 integers per arena — independent of history;
    each batch shuffles only its own events once (the cogroup)."""
    events = spark.readStream.schema(_EVENTS_SCHEMA).parquet(input_dir)

    return _drain(
        events,
        versioned_fold_batch_fn(store_dir, sprt_state_fold),
        checkpoint_dir,
    )


def sprt_from_store(cells: DataFrame) -> DataFrame:
    """Store rows → the q_sprt_decision output shape."""
    from ..plans.round10b import _SPRT_A, _SPRT_L0, _SPRT_L1

    n_steps = F.when(F.col("decided") == 1, F.col("step_cross")).otherwise(
        F.col("t")
    )
    succ = F.when(F.col("decided") == 1, F.col("a_cross")).otherwise(
        F.col("a")
    )
    llr6 = succ * F.lit(_SPRT_L1) + (n_steps - succ) * F.lit(_SPRT_L0)
    return cells.select(
        "event_type",
        F.col("t").cast("long").alias("n"),
        n_steps.cast("long").alias("n_steps"),
        succ.cast("long").alias("successes"),
        (llr6 / 1000000.0).alias("llr"),
        F.when(llr6 >= _SPRT_A, "accept_h1")
        .when(llr6 <= -_SPRT_A, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# X761 streaming face — BOCPD regime monitor store
# ---------------------------------------------------------------------------

_BOCPD_STATE_SCHEMA = (
    "event_type string, slot long, mass long, ns long, ones long, "
    "cp long, pm long"
)


def bocpd_state_fold(existing, batch, batch_id):
    """(state-so-far, new events) → new state: per event_type, resume
    the exact integer BOCPD fold (plans/round11g.bocpd_fold) from the
    stored (mass, ns, ones, cp, prev-MAP) vectors over the batch's
    observations in (ts, event_id) order. Incremental == batch is an
    identity because the fold is deterministic integer arithmetic —
    the Elo-store contract applied to the changepoint monitor."""
    from ..plans.round11g import _BOCPD_R, _BOCPD_THRESH, bocpd_fold

    sess = batch.sparkSession
    ev = batch.select("event_type", "ts", "event_id", "value")
    if existing is None:
        existing = local_frame(sess, [], _BOCPD_STATE_SCHEMA)

    def fn(key, state_pdf, ev_pdf):
        import pandas as pd

        event_type = key[0]
        mass = [10**9] + [0] * (_BOCPD_R - 1)
        ns = [0] * _BOCPD_R
        ones = [0] * _BOCPD_R
        cp, pm = 0, 0
        for row in state_pdf.itertuples():
            s = int(row.slot)
            mass[s] = int(row.mass)
            ns[s] = int(row.ns)
            ones[s] = int(row.ones)
            cp, pm = int(row.cp), int(row.pm)
        ev_pdf = ev_pdf.sort_values(["ts", "event_id"])
        xs = [1 if float(v) > _BOCPD_THRESH else 0 for v in ev_pdf["value"]]
        mass, ns, ones, cp, pm = bocpd_fold(
            iter(xs), state=(mass, ns, ones, cp, pm)
        )
        return pd.DataFrame(
            {
                "event_type": [event_type] * _BOCPD_R,
                "slot": list(range(_BOCPD_R)),
                "mass": mass,
                "ns": ns,
                "ones": ones,
                "cp": [cp] * _BOCPD_R,
                "pm": [pm] * _BOCPD_R,
            }
        )

    return existing.groupBy("event_type").cogroup(
        ev.groupBy("event_type")
    ).applyInPandas(fn, schema=_BOCPD_STATE_SCHEMA)


def run_streaming_bocpd(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X761's streaming face — the live regime-change monitor: the
    BOCPD fold is ORDER-DEPENDENT, so the state is a versioned
    (mass, ns, ones, cp, prev-MAP) vector per event_type; each
    micro-batch folds only its NEW observations from the stored
    vectors (exact integer arithmetic, plans/round11g.bocpd_fold), so
    incremental == batch is an identity after every commit — a
    dashboard reads the run-length posterior without rescanning the
    log.

    Scale: state is 3·R integers + 2 counters per stream, independent
    of history; each batch shuffles only its own events once (the
    cogroup)."""
    events = spark.readStream.schema(_EVENTS_SCHEMA).parquet(input_dir)

    return _drain(
        events,
        versioned_fold_batch_fn(store_dir, bocpd_state_fold),
        checkpoint_dir,
    )


def bocpd_from_store(cells: DataFrame) -> DataFrame:
    """Store rows → the q_bocpd output shape (posterior per slot plus
    the MAP-reset changepoint count), cap-free."""
    return cells.select(
        "event_type",
        F.col("slot").alias("run_slot"),
        F.round(F.col("mass") / 1e9, 6).alias("posterior"),
        F.col("ns").alias("n_obs"),
        F.col("ones").alias("n_ones"),
        F.col("cp").alias("cp_steps"),
    ).orderBy("event_type", "run_slot")


# ---------------------------------------------------------------------------
# X755 streaming face — Space-Saving heavy-hitters store
# ---------------------------------------------------------------------------

_SS_STATE_SCHEMA = (
    "event_type string, slot long, item long, cnt long, err long"
)


def space_saving_state_fold(existing, batch, batch_id):
    """(state-so-far, new events) → new state: per event_type, resume
    the Space-Saving counter fold (plans/round11d.space_saving_fold's
    update rule) from the stored (item, count, err) slots over the
    batch's items in (ts, event_id) order. The fold is deterministic
    integer arithmetic, so incremental == batch is an identity."""
    from ..plans.round11d import _SS_K, _SS_MOD

    sess = batch.sparkSession
    ev = batch.select("event_type", "ts", "event_id", "user_id")
    if existing is None:
        existing = local_frame(sess, [], _SS_STATE_SCHEMA)

    def fn(key, state_pdf, ev_pdf):
        import pandas as pd

        from ..plans.round11d import space_saving_fold

        event_type = key[0]
        slots = sorted(
            (int(r.slot), int(r.item), int(r.cnt), int(r.err))
            for r in state_pdf.itertuples()
        )
        state = (
            [s[1] for s in slots],
            [s[2] for s in slots],
            [s[3] for s in slots],
        )
        ev_pdf = ev_pdf.sort_values(["ts", "event_id"])
        items, counts, errs = space_saving_fold(
            (int(u) % _SS_MOD for u in ev_pdf["user_id"]),
            _SS_K,
            state=state,
        )
        return pd.DataFrame(
            {
                "event_type": [event_type] * len(items),
                "slot": list(range(len(items))),
                "item": items,
                "cnt": counts,
                "err": errs,
            }
        )

    return existing.groupBy("event_type").cogroup(
        ev.groupBy("event_type")
    ).applyInPandas(fn, schema=_SS_STATE_SCHEMA)


def run_streaming_space_saving(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X755's streaming face — the live heavy-hitters board: k
    counters per stream maintained across micro-batches (slot order IS
    state: Space-Saving's eviction rule reads slot positions, so the
    store persists them), exactly the bounded-memory frequency summary
    a stream aggregator serves when the key space is unbounded."""
    events = spark.readStream.schema(_EVENTS_SCHEMA).parquet(input_dir)

    return _drain(
        events,
        versioned_fold_batch_fn(store_dir, space_saving_state_fold),
        checkpoint_dir,
    )


def space_saving_from_store(cells: DataFrame) -> DataFrame:
    """Store rows → (event_type, item, est_count, overcount_bound),
    the q_space_saving core shape (cap-free, no exact-join audit)."""
    return cells.select(
        "event_type",
        "item",
        F.col("cnt").alias("est_count"),
        F.col("err").alias("overcount_bound"),
    ).orderBy("event_type", F.desc("est_count"), "item")


# ---------------------------------------------------------------------------
# X787 streaming face — theta-sketch (set-algebra KMV) store
# ---------------------------------------------------------------------------

_THETA_STATE_SCHEMA = "et string, hv long"


def theta_state_fold(existing, batch, batch_id):
    """(state-so-far, new events) → new state: per stream, the K
    smallest portable hashes of the users seen so far.  KMV state is a
    pure SET — merge = union + re-trim — so the fold is entirely
    JVM-side DataFrame ops (no applyInPandas): hash the batch's
    distinct (et, user) pairs, union the stored cells, keep the K
    smallest per et.  Order-independent, hence trivially replay-safe
    and mergeable across shards — the theta-sketch property."""
    from pyspark.sql.window import Window as W

    from ..functions.hashing import token_hash
    from ..plans.round11m import _THETA_K

    sess = batch.sparkSession
    fresh = (
        batch.select(
            F.col("event_type").alias("et"),
            token_hash(F.col("user_id").cast("string")).alias("hv"),
        )
        .distinct()
    )
    if existing is None:
        existing = local_frame(sess, [], _THETA_STATE_SCHEMA)
    merged = existing.unionByName(fresh).distinct()
    return (
        merged.withColumn(
            "r", F.row_number().over(W.partitionBy("et").orderBy("hv"))
        )
        .filter(F.col("r") <= _THETA_K)
        .select("et", "hv")
    )


def run_streaming_theta(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X787 — X784's streaming face (distinct from X411's per-flag KMV
    store, plans/round4t.KMV: this one persists the SET-ALGEBRA sketch
    cells): the live distinct-cardinality
    board.  K hashes per stream maintained across micro-batches; the
    stored cells ARE theta sketches, so the read path answers
    per-stream, union, and intersection cardinalities at any moment
    without touching history — the streaming twin of the lakehouse
    theta-sketch column."""
    events = spark.readStream.schema(_EVENTS_SCHEMA).parquet(input_dir)

    return _drain(
        events,
        versioned_fold_batch_fn(store_dir, theta_state_fold),
        checkpoint_dir,
    )


def theta_from_store(cells: DataFrame) -> DataFrame:
    """Store cells → the exact q_theta_sketch report shape, via the
    SAME theta_report the batch query runs — incremental ≡ batch is an
    identity, pinned in pytest."""
    from ..plans.round11m import theta_report

    return theta_report(cells)


# ---------------------------------------------------------------------------
# X802 streaming face — incremental dedup-clusters (connected components)
# ---------------------------------------------------------------------------


def dedup_clusters_batch_fn(sig_store_dir: str, label_store_dir: str):
    """foreachBatch body of ``run_streaming_dedup_clusters``: verify
    the batch's near-dup edges against the accumulated signature
    store, then FOLD them into the persisted component labels.

    Edges come from ``lsh.candidates`` over the batch and the
    signature store, under the near-dedup log's arrival-order contract:
    a pair is found in the batch where its later-arriving doc lands,
    whichever doc has the smaller id. The label merge is the min-label
    fixpoint over (new edges ∪ the stored v→comp pointers): components
    only coarsen as edges arrive, and since component ids are min doc
    ids, min-of-mins equals the global min — so after any prefix of
    waves the store equals the batch q_dedup_clusters over the
    documents seen so far, for ANY arrival order (the parity pytest
    delivers interleaved-id waves). The near-dedup log cannot stand in
    for this store: its min-partner aggregation loses edges —
    (1,3),(2,3) cluster {1,2,3}
    but 3's min partner alone loses 2."""
    from ..operators import lsh
    from ..operators.graph import connected_components

    def fold(prior_labels: DataFrame | None, batch: DataFrame, batch_id: int):
        sess = batch.sparkSession
        bands = lsh.band_rows(lsh.shingle_sets(batch), "hs").localCheckpoint(
            eager=True
        )
        prior = store_read(sess, sig_store_dir, exclude_batch_id=batch_id)
        edges = (
            lsh.candidates(bands, prior)
            .filter(lsh.jaccard("hs_a", "hs_b") >= 0.5)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .localCheckpoint(eager=True)
        )
        idempotent_upsert(bands, batch_id, sig_store_dir)

        batch_vs = batch.select(F.col("doc_id").alias("v")).distinct()
        if prior_labels is None:
            vertices = batch_vs
            all_edges = edges
        else:
            vertices = (
                prior_labels.select("v").unionByName(batch_vs).distinct()
            )
            all_edges = edges.unionByName(
                prior_labels.filter(F.col("v") != F.col("comp")).select(
                    F.col("v").alias("a"), F.col("comp").alias("b")
                )
            )
        labels, _rounds = connected_components(
            vertices, all_edges, shuffle_partitions=4
        )
        return labels.select("v", F.col("component").alias("comp"))

    return versioned_fold_batch_fn(label_store_dir, fold)


def run_streaming_dedup_clusters(
    spark: SparkSession,
    input_dir: str,
    sig_store_dir: str,
    label_store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """X802 — incremental near-dup CLUSTERING: the streaming face of
    q_dedup_clusters (X21).  X225's streaming near-dedup flags each
    arriving doc's min duplicate partner; this store maintains the
    full COMPONENT labels — the structure survivor-selection,
    cluster-size caps, and soft dedup weights actually need — by
    folding each micro-batch's verified edges into the persisted
    min-label fixpoint (components only coarsen; label store is one
    row per seen doc, signature store ~100 B/doc·band, text never
    stored).

    Incremental ≡ batch is pinned in pytest after every wave: the
    label store equals q_dedup_clusters run over the documents seen
    so far, and both crash windows (uncommitted label version,
    replayed batch) leave the store correct."""
    docs = spark.readStream.schema(_DOCS_SCHEMA).parquet(input_dir)

    return _drain(
        docs,
        dedup_clusters_batch_fn(sig_store_dir, label_store_dir),
        checkpoint_dir,
    )
