"""Runner-level tests for the versioned-fold streams: each runner is
started as a real availableNow query, twice on one checkpoint with a
new input wave before each run, and its store must then equal the
registered batch query over all input.  A third run with no new input
must commit no new store version (availableNow plans no batch when the
source has no new offsets).

The input directory is ``<cum>/<table>.parquet``, so the batch query
reads exactly the rows the stream drained by pointing at ``<cum>``."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_stream_spark.sources.tables import load
from kafka_stream_spark.streaming.pipeline import merged_store_read

SF = "/root/testdata/sf0.001"


def _ts_halves(events):
    cut = events.selectExpr("percentile_approx(ts, 0.5) AS c").first()["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0
    return wave1, wave2


def _dirs(tmp_path, table: str):
    """(cum, input dir, store dir, checkpoint dir) under ``tmp_path``."""
    cum = str(tmp_path / "cum")
    inp = f"{cum}/{table}.parquet"
    return cum, inp, str(tmp_path / "st"), str(tmp_path / "ck")


def _drain_waves(start, waves, inp: str, store: str) -> None:
    """Append each wave to ``inp`` and drain it with one availableNow
    run of ``start()``; then pin that an idle run commits nothing."""
    for wave in waves:
        wave.write.mode("append").parquet(inp)
        assert start().awaitTermination(180)
    before = sorted(os.listdir(store))
    assert start().awaitTermination(180)
    assert sorted(os.listdir(store)) == before


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_run_streaming_sprt_equals_batch(spark, tmp_path):
    from kafka_stream_spark.plans.round10b import q_sprt_decision
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_sprt,
        sprt_from_store,
    )

    cum, inp, store, ckpt = _dirs(tmp_path, "events")
    _drain_waves(
        lambda: run_streaming_sprt(spark, inp, store, ckpt),
        _ts_halves(load(spark, SF, "events")),
        inp,
        store,
    )
    got = _rows(sprt_from_store(merged_store_read(spark, store)))
    assert got and got == _rows(q_sprt_decision(spark, cum))


def test_run_streaming_bocpd_equals_batch(spark, tmp_path):
    from kafka_stream_spark.plans.round11g import _BOCPD_GATE_STEPS, q_bocpd
    from kafka_stream_spark.streaming.pipeline import (
        bocpd_from_store,
        run_streaming_bocpd,
    )

    events = load(spark, SF, "events")
    # q_bocpd folds only the first _BOCPD_GATE_STEPS events per stream;
    # the store is cap-free, so the two agree while no stream exceeds it
    per_type = events.groupBy("event_type").count().agg(F.max("count"))
    assert per_type.collect()[0][0] <= _BOCPD_GATE_STEPS
    cum, inp, store, ckpt = _dirs(tmp_path, "events")
    _drain_waves(
        lambda: run_streaming_bocpd(spark, inp, store, ckpt),
        _ts_halves(events),
        inp,
        store,
    )
    got = _rows(bocpd_from_store(merged_store_read(spark, store)))
    assert got and got == _rows(q_bocpd(spark, cum).drop("gate_steps_cap"))


def test_run_streaming_space_saving_equals_batch(spark, tmp_path):
    from kafka_stream_spark.plans.round11d import (
        _SS_GATE_STEPS,
        q_space_saving,
    )
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_space_saving,
        space_saving_from_store,
    )

    events = load(spark, SF, "events")
    per_type = events.groupBy("event_type").count().agg(F.max("count"))
    assert per_type.collect()[0][0] <= _SS_GATE_STEPS
    cum, inp, store, ckpt = _dirs(tmp_path, "events")
    _drain_waves(
        lambda: run_streaming_space_saving(spark, inp, store, ckpt),
        _ts_halves(events),
        inp,
        store,
    )
    got = _rows(space_saving_from_store(merged_store_read(spark, store)))
    want = q_space_saving(spark, cum).select(
        "event_type", "item", "est_count", "overcount_bound"
    )
    assert got and got == _rows(want)


def test_run_streaming_theta_equals_batch(spark, tmp_path):
    from kafka_stream_spark.plans.round11m import q_theta_sketch
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_theta,
        theta_from_store,
    )

    events = load(spark, SF, "events")
    # split by user: every user appears in both time halves at sf0.001
    waves = (
        events.filter(F.col("user_id") % 2 == 0),
        events.filter(F.col("user_id") % 2 == 1),
    )
    cum, inp, store, ckpt = _dirs(tmp_path, "events")
    _drain_waves(
        lambda: run_streaming_theta(spark, inp, store, ckpt),
        waves,
        inp,
        store,
    )
    got = _rows(theta_from_store(merged_store_read(spark, store)))
    assert got and got == _rows(q_theta_sketch(spark, cum))


def test_run_streaming_dedup_clusters_equals_batch(spark, tmp_path):
    from kafka_stream_spark.plans.llm_ext import q_dedup_clusters
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_dedup_clusters,
    )

    docs = load(spark, SF, "documents")
    # parity split: the second wave holds ids on both sides of the first
    waves = (
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )
    cum, inp, lab, ckpt = _dirs(tmp_path, "documents")
    sig = str(tmp_path / "sig")
    _drain_waves(
        lambda: run_streaming_dedup_clusters(spark, inp, sig, lab, ckpt),
        waves,
        inp,
        lab,
    )
    got = _rows(merged_store_read(spark, lab).select("v", "comp"))
    assert got and got == _rows(q_dedup_clusters(spark, cum))
