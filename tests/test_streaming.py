"""Streaming layer: CDC parse, file-sourced board stream with foreachBatch
fan-out, checkpointed restart idempotence, watermarked window agg."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kafka_stream_spark.streaming.pipeline import (
    SinkPaths,
    merged_store_read,
    run_board_stream,
    run_windowed_event_stream,
)
from kafka_stream_spark.streaming.sources import parse_cdc


def _envelope(title: str, code: str = "src0", url: str = "http://x/1") -> str:
    return json.dumps(
        {
            "o": {
                "st_name": "短名",
                "st_code": code,
                "title": title,
                "publish_date": "2024-01-01 00:00:00",
                "url": url,
            }
        },
        ensure_ascii=False,
    )


def _update_envelope() -> str:
    return json.dumps({"o": {"title": "x"}, "o_set": "{...}"})


def test_parse_cdc_insert_only_and_dead_letter(spark):
    raw = spark.createDataFrame(
        [
            (_envelope("the spark pipeline is fast"),),
            (_update_envelope(),),  # $set update op → dropped (F1)
            ("not json at all",),  # malformed → dead-letter dropped (S2)
        ],
        ["value"],
    )
    rows = parse_cdc(raw).collect()
    assert len(rows) == 1
    assert rows[0]["title"] == "the spark pipeline is fast"
    assert rows[0]["cmp_code"] == "src0"


def test_board_stream_end_to_end(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    lines = [
        _envelope("the spark pipeline is fast", "src0", "http://x/1"),
        _envelope("the spark pipeline is fast", "src0", "http://x/1"),  # dup
        _envelope("table scan filter works", "src1", "http://x/2"),
        _envelope("no match here", "src2", "http://x/3"),
        _update_envelope(),
    ]
    (inp / "batch1.json").write_text("\n".join(lines))

    out = str(tmp_path / "out")
    q = run_board_stream(spark, str(inp), out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    sinks = SinkPaths.under(out)
    ann = spark.read.parquet(sinks.announcements)
    # 2 distinct matching titles (dup collapsed by only_id dedup)
    got = {(r["title"], r["rule_id"]) for r in ann.collect()}
    assert got == {
        ("the spark pipeline is fast", 1),
        ("table scan filter works", 2),
    }
    sent = spark.read.parquet(sinks.sentiment)
    assert sent.count() == ann.count()
    assert "url" not in sent.columns  # 34-col vs 33-col projection delta
    ks = spark.read.parquet(sinks.keystore)
    assert ks.select("only_id").distinct().count() == ann.count()


def test_board_stream_restart_is_idempotent(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.json").write_text(_envelope("the spark pipeline is fast"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = run_board_stream(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(SinkPaths.under(out).announcements).count()

    # restart with same checkpoint: already-committed files are not
    # reprocessed (T1: checkpointed offsets, unlike the reference's
    # replay-from-earliest consumer)
    q = run_board_stream(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    n2 = spark.read.parquet(SinkPaths.under(out).announcements).count()
    assert n1 == n2 == 1

    # new file with a seen key + a new key → only the new key lands
    (inp / "b.json").write_text(
        "\n".join(
            [
                _envelope("the spark pipeline is fast"),  # dup across batches
                _envelope("table scan filter works", "src1", "http://x/9"),
            ]
        )
    )
    q = run_board_stream(spark, str(inp), out, ckpt)
    q.awaitTermination(120)
    ann = spark.read.parquet(SinkPaths.under(out).announcements)
    assert ann.count() == 2  # cross-batch dedup held state via checkpoint


def test_parse_cdc_ashare_field_map(spark):
    # kafka_a.py reads stock_name/stock_code/etl_time (SURVEY.md §2.12)
    raw = spark.createDataFrame(
        [
            (
                json.dumps(
                    {
                        "o": {
                            "stock_name": "公司A",
                            "stock_code": "600000",
                            "title": "spark is fast",
                            "etl_time": "2024-02-02 08:00:00",
                            "url": "http://a/1",
                        }
                    },
                    ensure_ascii=False,
                ),
            )
        ],
        ["value"],
    )
    rows = parse_cdc(raw, board="ashare").collect()
    assert len(rows) == 1
    assert rows[0]["cmp_short_name"] == "公司A"
    assert rows[0]["cmp_code"] == "600000"
    assert rows[0]["publish_date"] == "2024-02-02 08:00:00"


def test_rules_refresh_between_batches(spark, tmp_path):
    """T2: a file-backed rules dim is re-resolved on each triggered run —
    editing the rules between availableNow cycles changes classification
    (mid-query refresh of a parquet static side is NOT guaranteed; the
    triggered-restart cadence is the supported refresh path)."""
    from kafka_stream_spark.sources import dims

    rules_path = str(tmp_path / "rules")
    dims.rules_df(spark).write.mode("overwrite").parquet(rules_path)

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.json").write_text(_envelope("the spark pipeline is fast", "src0", "u1"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_board_stream(spark, str(inp), out, ckpt, rules_path=rules_path)
    q.awaitTermination(120)
    ann = spark.read.parquet(SinkPaths.under(out).announcements)
    assert {r["rule_id"] for r in ann.collect()} == {1}

    # live-edit the dim: new rule 99 matches 'pipeline'; rule 1 removed
    new_rules = [
        (99, "pipeline", "", 199, "新类", 1, 10),
    ] + [r for r in dims.RULES_ROWS if r[0] != 1]
    spark.createDataFrame(new_rules, schema=list(dims.RULES_COLS)).write.mode(
        "overwrite"
    ).parquet(rules_path)
    (inp / "b.json").write_text(_envelope("the spark pipeline is fast", "src0", "u2"))
    q = run_board_stream(spark, str(inp), out, ckpt, rules_path=rules_path)
    q.awaitTermination(120)
    ann = spark.read.parquet(SinkPaths.under(out).announcements)
    by_url = {(r["url"], r["rule_id"]) for r in ann.collect()}
    assert ("u1", 1) in by_url  # old batch classified by old rules
    assert ("u2", 99) in by_url  # new batch classified by edited rules
    assert ("u2", 1) not in by_url


def test_watermark_drops_too_late_rows(spark, tmp_path):
    """Late-data policy: rows older than (max event time - watermark) at
    the time a window was finalized are dropped, not re-emitted."""
    import datetime as dt

    from kafka_stream_spark.streaming.pipeline import run_windowed_event_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 0, 30, 0)

    def ev(i, hours_offset, etype="click", value=1.0):
        return (i, base + dt.timedelta(hours=hours_offset), 1, etype, value)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # batch 1: events spanning 6 hours → watermark advances to max-2h,
    # finalizing the early windows (append emits them)
    spark.createDataFrame([ev(1, 0), ev(2, 1), ev(3, 6)], schema).write.mode(
        "append"
    ).parquet(inp)
    assert run_windowed_event_stream(spark, inp, out, ckpt).awaitTermination(120)
    emitted1 = {r["ws"] for r in spark.read.parquet(out).collect()}
    assert base.replace(minute=0) in emitted1  # hour-0 window finalized

    # batch 2: a VERY late row for the already-finalized hour-0 window
    # plus a fresh row; the late row must not produce a new hour-0 output
    spark.createDataFrame([ev(4, 0, value=99.0), ev(5, 7)], schema).write.mode(
        "append"
    ).parquet(inp)
    assert run_windowed_event_stream(spark, inp, out, ckpt).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    hour0 = [r for r in rows if r["ws"] == base.replace(minute=0)]
    # exactly the original finalized emission — the 99.0 row vanished
    assert len(hour0) == 1 and hour0[0]["n"] == 1 and hour0[0]["sum_value"] == 1.0


def test_dlq_captures_malformed_only(spark, tmp_path):
    from kafka_stream_spark.streaming.pipeline import run_dlq_stream

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.json").write_text(
        "\n".join(
            [
                _envelope("the spark pipeline is fast"),  # valid → not DLQ
                _update_envelope(),  # legitimate drop → not DLQ
                "totally not json",  # → DLQ
                '{"other": "shape"}',  # parses but no o → DLQ
                "",  # blank line → ignored
            ]
        )
    )
    q = run_dlq_stream(spark, str(inp), str(tmp_path / "dlq"), str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    dead = spark.read.parquet(str(tmp_path / "dlq"))
    payloads = {r["raw_payload"] for r in dead.collect()}
    assert payloads == {"totally not json", '{"other": "shape"}'}
    assert {r["reason"] for r in dead.collect()} == {"cdc_parse_failure"}


def test_continuous_rollup_incremental_equals_batch(spark, tmp_path, sf_dir):
    """The rollup store must equal the full-history batch aggregate after
    each incremental update — including windows revised by late rows."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import run_continuous_rollup

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first = e.filter(F.col("event_id") % 2 == 0)
    second = e.filter(F.col("event_id") % 2 == 1)  # arrives later, same windows

    inp = str(tmp_path / "in")
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def batch_agg(df):
        return {
            (r["ws"], r["event_type"]): (r["n"], r["sum_value"])
            for r in df.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
            .collect()
        }

    first.write.mode("append").parquet(inp)
    assert run_continuous_rollup(spark, inp, out, ckpt).awaitTermination(180)
    got1 = {
        (r["ws"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == batch_agg(first)

    # late-arriving half lands in already-materialized windows → those
    # windows must be revised in place, not duplicated
    second.write.mode("append").parquet(inp)
    assert run_continuous_rollup(spark, inp, out, ckpt).awaitTermination(180)
    got2 = {
        (r["ws"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == batch_agg(e)


def test_windowed_event_stream_matches_batch(spark, tmp_path, sf_dir):
    from kafka_stream_spark.sources.tables import load

    inp = str(tmp_path / "events_in")
    load(spark, sf_dir, "events").write.parquet(inp)

    out = str(tmp_path / "win_out")
    q = run_windowed_event_stream(spark, inp, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    emitted = spark.read.parquet(out)
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "sum_value")
    )
    # append mode emits only watermark-finalized windows: emitted ⊆ batch,
    # and every emitted row agrees with the batch computation exactly
    b = {(r["ws"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()}
    e = {(r["ws"], r["event_type"]): (r["n"], r["sum_value"]) for r in emitted.collect()}
    assert e and set(e) <= set(b)
    for k, v in e.items():
        assert b[k] == v


def test_streaming_quantile_sketch_incremental_equals_batch(spark, tmp_path, sf_dir):
    """The mergeable histogram store must equal the full-history batch
    sketch after every arrival wave, and its quantile estimates must
    track the exact percentiles within one bucket width."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        SKETCH_BUCKETS,
        SKETCH_HI,
        SKETCH_LO,
        estimate_quantile,
        run_streaming_quantile_sketch,
        sketch_bucket,
    )

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first = e.filter(F.col("event_id") % 2 == 0)
    second = e.filter(F.col("event_id") % 2 == 1)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def batch_hist(df):
        return {
            (r["b"], r["cnt"])
            for r in df.select(sketch_bucket(F.col("value")).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }

    def store_hist():
        return {(r["b"], r["cnt"]) for r in spark.read.parquet(out).collect()}

    first.write.mode("append").parquet(inp)
    assert run_streaming_quantile_sketch(spark, inp, out, ckpt).awaitTermination(180)
    assert store_hist() == batch_hist(first)

    second.write.mode("append").parquet(inp)
    assert run_streaming_quantile_sketch(spark, inp, out, ckpt).awaitTermination(180)
    assert store_hist() == batch_hist(e)

    # estimates from the merged store track exact percentiles within a
    # bucket width
    width = (SKETCH_HI - SKETCH_LO) / SKETCH_BUCKETS
    exact = e.agg(
        F.expr("percentile(value, array(0.5, 0.9))").alias("p")
    ).collect()[0]["p"]
    hist = list(store_hist())
    assert abs(estimate_quantile(hist, 0.5) - exact[0]) <= width
    assert abs(estimate_quantile(hist, 0.9) - exact[1]) <= width


def test_streaming_corpus_build_incremental_equals_batch(spark, tmp_path):
    """The streaming corpus funnel (quality + decontamination + mix
    flags maintained incrementally) must equal the batch q_corpus_build
    funnel over documents-so-far after EVERY wave — including the
    retro-recheck case where a benchmark doc arrives AFTER a document
    its 5-grams contaminate (at sf0.01, bench doc 388 contaminates doc
    335; waves split at 350 so the contamination is only discoverable
    retroactively)."""
    from kafka_stream_spark.plans.datasetops import (
        BENCH_MOD,
        corpus_flags,
        funnel_report,
        grams_of,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import run_streaming_corpus_build

    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    wave1 = docs.filter(F.col("doc_id") < 350)
    wave2 = docs.filter(F.col("doc_id") >= 350)

    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    out = str(tmp_path / "funnel")
    ckpt = str(tmp_path / "ckpt")

    def batch_funnel(d):
        g = grams_of(d)
        bench_grams = (
            g.filter(F.col("doc_id") % BENCH_MOD == 0).select("gram").distinct()
        )
        hits = (
            g.filter(F.col("doc_id") % BENCH_MOD != 0)
            .join(F.broadcast(bench_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        return {
            tuple(r) for r in funnel_report(corpus_flags(d, hits)).collect()
        }

    def store_funnel():
        return {tuple(r) for r in spark.read.parquet(out).collect()}

    def stored_cont(doc_id):
        import os

        versions = [
            int(n[len("flags_v"):])
            for n in os.listdir(state)
            if n.startswith("flags_v")
        ]
        flags = spark.read.parquet(
            str(tmp_path / "state" / f"flags_v{max(versions)}")
        )
        return flags.filter(F.col("doc_id") == doc_id).collect()[0]["cont"]

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_corpus_build(
        spark, inp, state, out, ckpt
    ).awaitTermination(240)
    assert store_funnel() == batch_funnel(wave1)
    assert stored_cont(335) is False  # bench doc 388 not yet seen

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_corpus_build(
        spark, inp, state, out, ckpt
    ).awaitTermination(240)
    assert store_funnel() == batch_funnel(docs)
    assert stored_cont(335) is True  # retro-recheck flipped it


def test_streaming_mixture_counts_incremental_equals_batch(spark, tmp_path):
    """The streaming (source, lang) count store, read through the shared
    weight arithmetic, must equal the batch q_mixture_weights on
    documents-so-far after every wave."""
    from kafka_stream_spark.plans.llm_ext import q_mixture_weights
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        mixture_weights_from_counts,
        run_streaming_mixture_counts,
    )

    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")

    def store_weights():
        return {
            tuple(r)
            for r in mixture_weights_from_counts(
                spark.read.parquet(out)
            ).collect()
        }

    def batch_weights(d):
        cum = str(tmp_path / f"cum_{d.count()}")
        d.write.mode("overwrite").parquet(f"{cum}/documents.parquet")
        return {tuple(r) for r in q_mixture_weights(spark, cum).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_mixture_counts(spark, inp, out, ckpt).awaitTermination(180)
    assert store_weights() == batch_weights(wave1)

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_mixture_counts(spark, inp, out, ckpt).awaitTermination(180)
    assert store_weights() == batch_weights(docs)


def test_streaming_process_map_incremental_equals_batch(spark, tmp_path):
    """The streaming DFG edge store, read through the shared
    dfg_from_partials arithmetic, must equal the batch q_process_map
    on events-so-far after every wave (waves split by user so sessions
    never straddle micro-batches)."""
    from kafka_stream_spark.plans.round4t import (
        dfg_from_partials,
        q_process_map,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_process_map,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    wave1 = events.filter(F.col("user_id") % 2 == 0)
    wave2 = events.filter(F.col("user_id") % 2 == 1)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")

    def store_map():
        return {
            tuple(r)
            for r in dfg_from_partials(merged_store_read(spark, out)).collect()
        }

    def batch_map(d, tag):
        cum = str(tmp_path / f"cum_{tag}")
        d.write.mode("overwrite").parquet(f"{cum}/events.parquet")
        return {tuple(r) for r in q_process_map(spark, cum).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_process_map(spark, inp, out, ckpt).awaitTermination(180)
    assert store_map() == batch_map(wave1, "w1")

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_process_map(spark, inp, out, ckpt).awaitTermination(180)
    assert store_map() == batch_map(events, "all")


def test_streaming_kmv_incremental_equals_batch(spark, tmp_path):
    """The streaming KMV store's estimates must EXACTLY equal the batch
    sketch on rows-so-far after every wave — keep-k-smallest is closed
    under union, so the merge is lossless for the estimate."""
    from kafka_stream_spark.plans.round4t import (
        kmv_estimates,
        kmv_hashes,
        kmv_keep,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import run_streaming_kmv

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    wave1 = li.filter(F.col("l_orderkey") % 2 == 0)
    wave2 = li.filter(F.col("l_orderkey") % 2 == 1)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    def store_est():
        return {
            tuple(r)
            for r in kmv_estimates(merged_store_read(spark, out)).collect()
        }

    def batch_est(d):
        return {
            tuple(r)
            for r in kmv_estimates(kmv_keep(kmv_hashes(d))).collect()
        }

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_kmv(spark, inp, out, ckpt).awaitTermination(180)
    assert store_est() == batch_est(wave1)

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_kmv(spark, inp, out, ckpt).awaitTermination(180)
    assert store_est() == batch_est(li)


def test_streaming_semantic_dedup_incremental_equals_batch(spark, tmp_path, sf_dir):
    """The streaming SemDeDup store (broadcast codebook assignment +
    cluster-bounded verify against the accumulating member store) must
    equal batch semantic_dedup with the same codebook after every
    arrival wave, when arrival order follows vec_id."""
    from kafka_stream_spark.operators.semdedup import (
        semantic_dedup,
        train_centroids,
    )
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_semantic_dedup,
    )

    emb = load(spark, sf_dir, "embeddings")
    # offline codebook: trained once on the full corpus (at scale: a
    # sample via sample_fraction), shared by batch and stream
    cent = train_centroids(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        ),
        k=8,
    )
    cent_dir = str(tmp_path / "centroids")
    cent.write.parquet(cent_dir)

    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    waves = [
        emb.filter(F.col("vec_id") < 150),
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
        emb.filter(F.col("vec_id") >= 300),
    ]

    def batch_answer(upto):
        cent_df = spark.read.parquet(cent_dir)
        return {
            (r["vec_id"], r["cluster_id"], r["kept"], r["dup_of"])
            for r in semantic_dedup(
                emb.filter(F.col("vec_id") < upto), centroids=cent_df
            ).collect()
        }

    seen = 0
    for wave, upto in zip(waves, (150, 300, 10**9)):
        wave.write.mode("append").parquet(inp)
        q = run_streaming_semantic_dedup(
            spark, inp, cent_dir, store, out, ckpt
        )
        assert q.awaitTermination(240)
        got = {
            (r["vec_id"], r["cluster_id"], r["kept"], r["dup_of"])
            for r in spark.read.parquet(out).collect()
        }
        want = batch_answer(upto)
        assert got == want, f"wave ending at {upto}: {len(got)} vs {len(want)}"
        assert len(got) > seen
        seen = len(got)


def test_streaming_heavy_hitters_incremental_equals_batch(spark, tmp_path, sf_dir):
    """The mergeable count store must reproduce batch q_heavy_hitters
    (top-3 tokens per language) on rows-so-far after every wave; ranks
    are a view over the store, never persisted state."""
    from pyspark.sql import Window

    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_heavy_hitters,
    )

    d = load(spark, sf_dir, "documents")
    waves = [
        d.filter(F.col("doc_id") % 3 == i) for i in range(3)
    ]
    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def top3_from_store():
        w = Window.partitionBy("lang").orderBy(
            F.col("cnt").desc(), F.col("token")
        )
        return {
            (r["lang"], r["token"], r["cnt"], r["rk"])
            for r in merged_store_read(spark, store)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .collect()
        }

    def batch_top3(df):
        from kafka_stream_spark.functions import text

        w = Window.partitionBy("lang").orderBy(
            F.col("cnt").desc(), F.col("token")
        )
        return {
            (r["lang"], r["token"], r["cnt"], r["rk"])
            for r in df.select(
                "lang", F.explode(text.tokens(F.col("text"))).alias("token")
            )
            .groupBy("lang", "token")
            .agg(F.count("*").alias("cnt"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .collect()
        }

    so_far = None
    for wave in waves:
        wave.write.mode("append").parquet(inp)
        so_far = wave if so_far is None else so_far.unionByName(wave)
        q = run_streaming_heavy_hitters(spark, inp, store, ckpt)
        assert q.awaitTermination(240)
        assert top3_from_store() == batch_top3(so_far)


def test_streaming_late_router_splits_exactly(spark, tmp_path):
    """Late rows (event time behind the persisted high-water mark by
    more than the lateness bound) go to the late sink, on-time rows to
    the main sink, every row to exactly one — replayed over three
    deterministic waves including a cross-batch straggler."""
    import datetime as dt

    from kafka_stream_spark.streaming.pipeline import run_streaming_late_router

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), 1, "view", 1.0)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    waves = [
        # wave 1: no prior hwm -> nothing can be late
        [ev(1, 0), ev(2, 30)],
        # wave 2: hwm=+30; -40m is 70min behind -> late; +20 is only
        # 10min behind -> on time; +90 advances the hwm
        [ev(3, -40), ev(4, 20), ev(5, 90)],
        # wave 3: hwm=+90; +25 is 65min behind -> late; +95 on time
        [ev(6, 25), ev(7, 95)],
    ]
    inp = str(tmp_path / "in")
    main = str(tmp_path / "main")
    late = str(tmp_path / "late")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    for wave in waves:
        spark.createDataFrame(wave, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        q = run_streaming_late_router(
            spark, inp, main, late, state, ckpt, lateness_minutes=60
        )
        assert q.awaitTermination(240)

    late_ids = {r["event_id"] for r in spark.read.parquet(late).collect()}
    main_ids = {r["event_id"] for r in spark.read.parquet(main).collect()}
    assert late_ids == {3, 6}
    assert main_ids == {1, 2, 4, 5, 7}
    # state keeps one hwm row per batch (replay-stable routing); the
    # effective hwm is the max
    hwm = max(r["hwm"] for r in spark.read.parquet(state).collect())
    assert hwm == t0 + dt.timedelta(minutes=95)


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path, sf_dir):
    """Replaying a micro-batch (the at-least-once crash window) must
    overwrite its own prior attempt, not append: same rows after a
    double delivery, new batches still append under their own key."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        idempotent_upsert,
        run_streaming_idempotent_sink,
    )

    out = str(tmp_path / "out")
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(F.count("*").alias("n"))

    idempotent_upsert(agg, 0, out)
    first = sorted(
        (r["event_type"], r["n"], r["batch_id"])
        for r in spark.read.parquet(out).collect()
    )
    idempotent_upsert(agg, 0, out)  # replay of the same batch
    assert sorted(
        (r["event_type"], r["n"], r["batch_id"])
        for r in spark.read.parquet(out).collect()
    ) == first
    idempotent_upsert(agg, 1, out)  # a NEW batch appends
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2 * len(first)
    assert {r["batch_id"] for r in rows} == {0, 1}

    # end-to-end through the streaming wrapper
    inp = str(tmp_path / "in")
    sout = str(tmp_path / "sout")
    ckpt = str(tmp_path / "ckpt")
    e.limit(100).write.parquet(inp)
    q = run_streaming_idempotent_sink(spark, inp, sout, ckpt)
    assert q.awaitTermination(240)
    got = spark.read.parquet(sout)
    assert got.agg(F.sum("n")).collect()[0][0] == 100


def test_streaming_image_dedup_incremental_equals_batch(spark, tmp_path, sf_dir):
    """The streaming perceptual-hash store must accumulate exactly the
    batch q_jpeg_dedup pair set when arrival follows vec_id — JPEG
    codec, aHash, banding, and verify all riding the store."""
    from kafka_stream_spark.plans import QUERIES
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_image_dedup,
    )

    emb = load(spark, sf_dir, "embeddings")
    waves = [
        emb.filter(F.col("vec_id") < 250),
        emb.filter(F.col("vec_id") >= 250),
    ]
    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    batch_all = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in QUERIES["q_jpeg_dedup"](spark, sf_dir).collect()
    }
    for i, wave in enumerate(waves):
        wave.write.mode("append").parquet(inp)
        q = run_streaming_image_dedup(spark, inp, store, out, ckpt)
        assert q.awaitTermination(300)
    got = {
        (r["img_a"], r["img_b"], r["hamming"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == batch_all


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """X545: duplicate event_ids within the watermark horizon collapse to
    one emission; a replay of an already-seen id adds nothing; state for
    expired keys is evicted (witnessed via the statestore reader)."""
    import datetime as dt

    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_dedup_within_watermark,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )

    def ev(i, minutes, value=1.0):
        return (i, base + dt.timedelta(minutes=minutes), 1, "click", value)

    # batch 1: id 1 delivered twice (at-least-once replay), id 2 once
    spark.createDataFrame(
        [ev(1, 0), ev(1, 5, value=99.0), ev(2, 10)], schema
    ).write.mode("append").parquet(inp)
    assert run_streaming_dedup_within_watermark(
        spark, inp, out, ckpt
    ).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]
    # first delivery won — the replayed value never surfaced
    assert {r["value"] for r in rows if r["event_id"] == 1} == {1.0}

    # batch 2: replay id 2 (within horizon → suppressed) + fresh id 3
    spark.createDataFrame(
        [ev(2, 15, value=77.0), ev(3, 20)], schema
    ).write.mode("append").parquet(inp)
    assert run_streaming_dedup_within_watermark(
        spark, inp, out, ckpt
    ).awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]


def test_statestore_reader_exposes_dedup_keys(spark, tmp_path):
    """X546: the checkpointed state of a streaming query is queryable as
    a batch DataFrame via the state data source — keys present, count
    matching the distinct ids the dedup is currently remembering."""
    import datetime as dt

    from kafka_stream_spark.streaming.pipeline import (
        read_stream_state,
        run_streaming_dedup_within_watermark,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    )
    spark.createDataFrame(
        [
            (10, base, 1, "click", 1.0),
            (11, base + dt.timedelta(minutes=1), 1, "click", 1.0),
            (10, base + dt.timedelta(minutes=2), 1, "click", 2.0),
        ],
        schema,
    ).write.mode("append").parquet(inp)
    assert run_streaming_dedup_within_watermark(
        spark, inp, out, ckpt
    ).awaitTermination(120)

    state = read_stream_state(spark, ckpt)
    # the dedup operator remembers exactly the two distinct keys
    keys = sorted(r["key"]["event_id"] for r in state.collect())
    assert keys == [10, 11]


def test_streaming_store_replay_idempotent(spark, tmp_path, sf_dir):
    """Simulated foreachBatch at-least-once replay (restart between the
    store write and the checkpoint commit): invoking a store's batch
    function a second time with the SAME batch_id must leave the store
    and the result log byte-identical — additive stores must not
    double-count, append stores must not double-append."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        heavy_hitters_batch_fn,
        near_dedup_batch_fn,
        semantic_dedup_batch_fn,
    )

    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    w1 = docs.filter(F.col("doc_id") % 2 == 0)
    w2 = docs.filter(F.col("doc_id") % 2 == 1)

    def snap(path):
        # rows may carry array columns (minhash slots) — compare as a
        # sorted multiset of stringified rows instead of hashing tuples
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in spark.read.parquet(path).collect()
        )

    # additive (read-modify-write) store: heavy hitters
    def snap_merged(path):
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, path).collect()
        )

    hh_store = str(tmp_path / "hh")
    hh = heavy_hitters_batch_fn(hh_store)
    hh(w1, 0)
    hh(w2, 1)
    before = snap_merged(hh_store)
    hh(w2, 1)  # replay of the last batch
    assert snap_merged(hh_store) == before

    # append-style store: MinHash near-dedup signatures + results
    nd_store = str(tmp_path / "nd_store")
    nd_out = str(tmp_path / "nd_out")
    nd = near_dedup_batch_fn(nd_store, nd_out)
    nd(w1, 0)
    nd(w2, 1)
    before_store, before_out = snap(nd_store), snap(nd_out)
    nd(w2, 1)  # replay
    assert snap(nd_store) == before_store
    assert snap(nd_out) == before_out

    # cluster-bounded semantic-dedup store
    from kafka_stream_spark.operators.semdedup import train_centroids

    emb = load(spark, sf_dir, "embeddings")
    cent_dir = str(tmp_path / "cent")
    train_centroids(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        ),
        k=4,
    ).write.parquet(cent_dir)
    sd_store = str(tmp_path / "sd_store")
    sd_out = str(tmp_path / "sd_out")
    sd = semantic_dedup_batch_fn(cent_dir, sd_store, sd_out)
    e1 = emb.filter(F.col("vec_id") % 2 == 0)
    e2 = emb.filter(F.col("vec_id") % 2 == 1)
    sd(e1, 0)
    sd(e2, 1)
    before_store, before_out = snap(sd_store), snap(sd_out)
    sd(e2, 1)  # replay
    assert snap(sd_store) == before_store
    assert snap(sd_out) == before_out


def test_streaming_semantic_dedup_routed_incremental_equals_batch(
    spark, tmp_path, sf_dir
):
    """The ANN-routed streaming SemDeDup store (fine broadcast codebook,
    nprobe probed cells, store members keyed by assigned cell) must
    equal batch semantic_dedup_routed with the same codebook after
    every arrival wave when ids arrive in order — and replaying a
    batch must leave store and verdicts unchanged."""
    from kafka_stream_spark.operators.semdedup import (
        semantic_dedup_routed,
        train_centroids,
    )
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_semantic_dedup_routed,
        semantic_dedup_routed_batch_fn,
    )

    emb = load_embeddings = None
    from kafka_stream_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    # FINE codebook (k=32 on ~2000 vectors ~ sqrt(n) scaling), trained
    # once and shared by batch and stream
    cent = train_centroids(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        ),
        k=32,
    )
    cent_dir = str(tmp_path / "cent")
    cent.write.parquet(cent_dir)

    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")

    waves = [
        emb.filter(F.col("vec_id") < 150),
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
        emb.filter(F.col("vec_id") >= 300),
    ]

    def batch_answer(upto):
        cent_df = spark.read.parquet(cent_dir)
        return {
            (r["vec_id"], r["cluster_id"], r["kept"], r["dup_of"])
            for r in semantic_dedup_routed(
                emb.filter(F.col("vec_id") < upto), cent_df, nprobe=2
            ).collect()
        }

    for wave, upto in zip(waves, (150, 300, 10 ** 9)):
        wave.write.mode("append").parquet(inp)
        q = run_streaming_semantic_dedup_routed(
            spark, inp, cent_dir, store, out, ckpt, nprobe=2
        )
        assert q.awaitTermination(240)
        got = {
            (r["vec_id"], r["cluster_id"], r["kept"], r["dup_of"])
            for r in spark.read.parquet(out).collect()
        }
        want = batch_answer(upto)
        assert got == want, f"wave ending at {upto}: {len(got)} vs {len(want)}"

    # replay idempotency: re-apply the last wave's batch under its
    # already-committed batch_id
    def snap(path):
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in spark.read.parquet(path).collect()
        )

    before_store, before_out = snap(store), snap(out)
    fn = semantic_dedup_routed_batch_fn(cent_dir, store, out, nprobe=2)
    fn(waves[-1], 2)
    assert snap(store) == before_store
    assert snap(out) == before_out


def test_streaming_lm_counts_incremental_equals_batch(spark, tmp_path):
    """The Stupid-Backoff count store (bigram + two-sided unigram
    counts, merged by addition) must reproduce the batch
    q_stupid_backoff per-source scores on documents-so-far after every
    wave, through the shared read-side scoring arithmetic — and
    replaying a batch must not double-count."""
    from kafka_stream_spark.plans.round6 import q_stupid_backoff
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        lm_counts_batch_fn,
        lm_score_with_counts,
        run_streaming_lm_counts,
    )

    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)

    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def store_scores(seen):
        bg = merged_store_read(spark, f"{store}/bigrams")
        uni = merged_store_read(spark, f"{store}/unigrams")
        return {
            tuple(r)
            for r in lm_score_with_counts(seen, bg, uni).collect()
        }

    def batch_scores(d, tag):
        cum = str(tmp_path / f"cum_{tag}")
        d.write.mode("overwrite").parquet(f"{cum}/documents.parquet")
        return {tuple(r) for r in q_stupid_backoff(spark, cum).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_lm_counts(spark, inp, store, ckpt).awaitTermination(240)
    assert store_scores(wave1) == batch_scores(wave1, "w1")

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_lm_counts(spark, inp, store, ckpt).awaitTermination(240)
    assert store_scores(docs) == batch_scores(docs, "all")

    # replay: re-apply wave2 under its committed batch_id
    def snap(path):
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, path).collect()
        )

    before_b = snap(f"{store}/bigrams")
    before_u = snap(f"{store}/unigrams")
    lm_counts_batch_fn(store)(wave2, 1)
    assert snap(f"{store}/bigrams") == before_b
    assert snap(f"{store}/unigrams") == before_u

    # partial-crash completion: wipe the unigram store as if the crash
    # hit between the two sub-store commits, then replay — the bigram
    # guard must NOT mask the unigram merge (it must be rebuilt)
    import shutil

    shutil.rmtree(f"{store}/unigrams")
    lm_counts_batch_fn(store)(wave2, 1)
    # bigrams untouched (still guarded), unigrams re-merged from wave2
    assert snap(f"{store}/bigrams") == before_b
    rebuilt = merged_store_read(spark, f"{store}/unigrams")
    assert rebuilt is not None and rebuilt.count() > 0


def test_streaming_sequence_pack_capacity_and_replay(spark, tmp_path):
    """The streaming packer must (1) assign every arriving doc exactly
    once, (2) never exceed the budget in any (bucket, seq) — the
    strict-capacity invariant across micro-batch boundaries, (3)
    continue a bucket's open sequence across batches (state store
    works), and (4) replay byte-identically, including regenerating
    assignments from the PRE-batch state via the as-of read."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        run_streaming_sequence_pack,
        sequence_pack_batch_fn,
    )

    B = 256
    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # split in blocks of 16 so both waves hit every bucket (bucket =
    # doc_id % 16; any doc_id-mod split whose modulus divides 16 gives
    # the waves disjoint buckets and no sequence could span batches)
    w1 = docs.filter((F.col("doc_id") / 16).cast("long") % 2 == 0)
    w2 = docs.filter((F.col("doc_id") / 16).cast("long") % 2 == 1)

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    w1.write.mode("append").parquet(inp)
    assert run_streaming_sequence_pack(
        spark, inp, out, state, ckpt, budget=B
    ).awaitTermination(240)
    w2.write.mode("append").parquet(inp)
    assert run_streaming_sequence_pack(
        spark, inp, out, state, ckpt, budget=B
    ).awaitTermination(240)

    rows = spark.read.parquet(out).collect()
    # every doc exactly once
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    # capacity invariant per (bucket, seq) ACROSS batches
    by_seq = {}
    for r in rows:
        by_seq.setdefault((r["bucket"], r["seq"]), []).append(r)
    assert all(
        sum(x["len"] for x in grp) <= B for grp in by_seq.values()
    )
    # cross-batch continuation: at least one sequence holds docs from
    # both batches (else the state store did nothing)
    mixed = any(
        len({x["batch_id"] for x in grp}) > 1 for grp in by_seq.values()
    )
    assert mixed

    # replay wave2's committed batch under its batch_id: byte-identical
    def snap(path):
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in spark.read.parquet(path).collect()
        )

    from kafka_stream_spark.streaming.pipeline import merged_store_read

    before_out = snap(out)
    before_state = sorted(
        map(repr, merged_store_read(spark, state).collect())
    )
    sequence_pack_batch_fn(out, state, budget=B)(w2, 1)
    assert snap(out) == before_out
    assert (
        sorted(map(repr, merged_store_read(spark, state).collect()))
        == before_state
    )


def test_merged_store_commit_point_semantics(spark, tmp_path):
    """The versioned store's crash contract, simulated directly:
    (1) a version directory WITHOUT _SUCCESS (crash mid-write) is
    invisible to readers and to the replay guard; (2) the replaying
    batch overwrites the crashed leftover wholesale; (3) pruning keeps
    the as-of read (before=bid) serviceable after the next commit."""
    import os
    import shutil

    from kafka_stream_spark.streaming.pipeline import (
        additive_combine,
        merged_store_apply,
        merged_store_last_applied,
        merged_store_read,
    )

    store = str(tmp_path / "store")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, c long")
    assert merged_store_apply(df, store, 0, additive_combine(["k"], ["c"]))
    assert merged_store_last_applied(store) == 0

    # simulate a crash mid-write of batch 1: full data, no _SUCCESS
    crashed = os.path.join(store, f"v={1:012d}")
    shutil.copytree(os.path.join(store, f"v={0:012d}"), crashed)
    os.remove(os.path.join(crashed, "_SUCCESS"))
    assert merged_store_last_applied(store) == 0  # invisible to guard
    got = {(r["k"], r["c"]) for r in merged_store_read(spark, store).collect()}
    assert got == {("a", 1), ("b", 2)}  # reader ignores the leftover

    # the replay of batch 1 folds from v=0 and overwrites the leftover
    df1 = spark.createDataFrame([("a", 10)], "k string, c long")
    assert merged_store_apply(df1, store, 1, additive_combine(["k"], ["c"]))
    assert merged_store_last_applied(store) == 1
    got = {(r["k"], r["c"]) for r in merged_store_read(spark, store).collect()}
    assert got == {("a", 11), ("b", 2)}

    # a second replay of batch 1 is skipped; as-of read sees v=0
    assert not merged_store_apply(df1, store, 1, additive_combine(["k"], ["c"]))
    asof = {
        (r["k"], r["c"])
        for r in merged_store_read(spark, store, before=1).collect()
    }
    assert asof == {("a", 1), ("b", 2)}


def test_streaming_grpo_moments_incremental_equals_batch(spark, tmp_path):
    """The streaming GRPO moments store, read through the shared
    advantage arithmetic, must equal the batch q_grpo_advantage on
    events-so-far after every wave."""
    from kafka_stream_spark.plans.round8b import q_grpo_advantage
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        grpo_from_moments,
        run_streaming_grpo_moments,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    wave1 = events.filter(F.col("event_id") % 2 == 0)
    wave2 = events.filter(F.col("event_id") % 2 == 1)

    inp = str(tmp_path / "in")
    store = str(tmp_path / "moments")
    ckpt = str(tmp_path / "ckpt")

    def store_adv():
        return {
            tuple(r)
            for r in grpo_from_moments(
                spark.read.parquet(inp), merged_store_read(spark, store)
            ).collect()
        }

    def batch_adv(d, tag):
        cum = str(tmp_path / f"cum_{tag}")
        d.write.mode("overwrite").parquet(f"{cum}/events.parquet")
        return {tuple(r) for r in q_grpo_advantage(spark, cum).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_grpo_moments(spark, inp, store, ckpt).awaitTermination(
        180
    )
    assert store_adv() == batch_adv(wave1, "w1")

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_grpo_moments(spark, inp, store, ckpt).awaitTermination(
        180
    )
    assert store_adv() == batch_adv(events, "all")


def test_streaming_best_of_n_incremental_equals_batch(spark, tmp_path):
    """The rank-merge top-2 store + additive integer bar store, read
    through the shared curation arithmetic, must equal the batch
    q_best_of_n on events-so-far after every wave — the non-additive
    (order-semilattice) flavor of the merged-store discipline."""
    from kafka_stream_spark.plans.round8b import q_best_of_n
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        best_of_n_from_store,
        run_streaming_best_of_n,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    wave1 = events.filter(F.col("event_id") % 2 == 0)
    wave2 = events.filter(F.col("event_id") % 2 == 1)

    inp = str(tmp_path / "in")
    top2 = str(tmp_path / "top2")
    bar = str(tmp_path / "bar")
    ckpt = str(tmp_path / "ckpt")

    def store_sel():
        return {
            tuple(r)
            for r in best_of_n_from_store(
                merged_store_read(spark, top2),
                merged_store_read(spark, bar),
            ).collect()
        }

    def batch_sel(d, tag):
        cum = str(tmp_path / f"cum_{tag}")
        d.write.mode("overwrite").parquet(f"{cum}/events.parquet")
        return {tuple(r) for r in q_best_of_n(spark, cum).collect()}

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_best_of_n(
        spark, inp, top2, bar, ckpt
    ).awaitTermination(180)
    assert store_sel() == batch_sel(wave1, "w1")

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_best_of_n(
        spark, inp, top2, bar, ckpt
    ).awaitTermination(180)
    assert store_sel() == batch_sel(events, "all")


def test_elo_store_crash_resume(spark, tmp_path):
    """X686 (round-9 verdict #6): the Elo leaderboard is the one
    ORDER-DEPENDENT merged store — a rating vector plus a dangling
    unpaired-event carry — so exactly-once cannot lean on associativity
    the way the additive stores do. Simulate both crash windows
    directly on the exported batch fn:

    (1) crash MID-WRITE of batch 1 (full v=1 data, ``_SUCCESS``
        removed): the version must be invisible, the reader must fall
        back to v=0, and the resumed re-fold — starting from the v=0
        carry row — must land byte-identical to the uncrashed fold;
    (2) post-commit replay of batch 1 (the at-least-once window): the
        replay guard must make it a no-op.

    Finally the store must equal the unbounded batch fold over all
    events (the incremental ≡ batch identity)."""
    import os

    from kafka_stream_spark.plans.round9b import elo_ratings_df
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        elo_state_fold,
        elo_from_store,
        merged_store_read,
        versioned_fold_batch_fn,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    cut = events.selectExpr(
        "percentile_approx(ts, 0.5) AS c"
    ).collect()[0]["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0

    store = str(tmp_path / "elo")
    fold = versioned_fold_batch_fn(store, elo_state_fold)

    def snap():
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, store).collect()
        )

    fold(wave1, 0)
    s1 = snap()
    # the order-sensitive part must actually be in play: at least one
    # arena holds a dangling unpaired event at the wave boundary, so
    # the resumed re-fold depends on the stored carry row
    carries = merged_store_read(spark, store).filter(
        (F.col("player") == -1) & F.col("carry_user").isNotNull()
    )
    assert carries.count() > 0

    # uncrashed fold of batch 1, then un-commit it (crash mid-write)
    fold(wave2, 1)
    s2_good = snap()
    assert s2_good != s1
    os.remove(os.path.join(store, f"v={1:012d}", "_SUCCESS"))
    assert snap() == s1  # reader fell back to the committed v=0

    # resume: guard must NOT skip (batch 1 never committed); the
    # re-fold replays [v=0 carry] + wave2 in order → identical state
    fold(wave2, 1)
    assert snap() == s2_good

    # replay of the now-committed batch 1: guarded no-op
    fold(wave2, 1)
    assert snap() == s2_good

    got = {
        tuple(r)
        for r in elo_from_store(merged_store_read(spark, store)).collect()
    }
    want = {tuple(r) for r in elo_ratings_df(events).collect()}
    assert got == want


def test_streaming_sprt_incremental_equals_batch_and_crash(spark, tmp_path):
    """X726: the SPRT store must (1) equal the batch q_sprt_decision
    on events-so-far after every TS-ordered wave — including FREEZING
    the decision at the crossing step even as later waves arrive; and
    (2) survive the two crash windows (mid-write un-commit + re-fold,
    post-commit replay no-op), the X686 contract for order-dependent
    state."""
    import os

    from kafka_stream_spark.plans.round10b import q_sprt_decision
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        merged_store_read,
        sprt_state_fold,
        sprt_from_store,
        versioned_fold_batch_fn,
    )

    events = load(spark, "/root/testdata/sf0.001", "events")
    cut = events.selectExpr(
        "percentile_approx(ts, 0.5) AS c"
    ).collect()[0]["c"]
    wave1 = events.filter(F.col("ts") <= F.lit(cut))
    wave2 = events.filter(F.col("ts") > F.lit(cut))
    assert wave1.count() > 0 and wave2.count() > 0

    store = str(tmp_path / "sprt")
    fold = versioned_fold_batch_fn(store, sprt_state_fold)

    def store_out():
        return {
            tuple(r)
            for r in sprt_from_store(
                merged_store_read(spark, store)
            ).collect()
        }

    def batch_out(d, tag):
        cum = str(tmp_path / f"cum_{tag}")
        d.write.mode("overwrite").parquet(f"{cum}/events.parquet")
        return {tuple(r) for r in q_sprt_decision(spark, cum).collect()}

    fold(wave1, 0)
    assert store_out() == batch_out(wave1, "w1")

    def snap():
        return sorted(
            repr(sorted(r.asDict().items()))
            for r in merged_store_read(spark, store).collect()
        )

    s1 = snap()
    fold(wave2, 1)
    s2_good = snap()
    assert store_out() == batch_out(events, "all")

    # crash mid-write of batch 1: un-commit, verify fallback, re-fold
    os.remove(os.path.join(store, f"v={1:012d}", "_SUCCESS"))
    assert snap() == s1
    fold(wave2, 1)
    assert snap() == s2_good

    # post-commit replay: guarded no-op
    fold(wave2, 1)
    assert snap() == s2_good
    assert store_out() == batch_out(events, "all2")


def test_streaming_cms_incremental_equals_batch(spark, tmp_path):
    """X735: the streamed count-min cells must equal the batch-built
    sketch over the union of waves after every wave (additive store —
    exactly-once from associativity), and a replayed committed batch
    must be a no-op."""
    from kafka_stream_spark.sources.tables import load
    from kafka_stream_spark.streaming.pipeline import (
        cms_partial,
        merged_store_read,
        run_streaming_cms,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)

    inp = str(tmp_path / "in")
    store = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")

    def store_cells():
        return {
            (r["j"], r["cell"]): r["cc"]
            for r in merged_store_read(spark, store).collect()
        }

    def batch_cells(d):
        return {
            (r["j"], r["cell"]): r["cc"] for r in cms_partial(d).collect()
        }

    wave1.write.mode("append").parquet(inp)
    assert run_streaming_cms(spark, inp, store, ckpt).awaitTermination(180)
    assert store_cells() == batch_cells(wave1)

    wave2.write.mode("append").parquet(inp)
    assert run_streaming_cms(spark, inp, store, ckpt).awaitTermination(180)
    assert store_cells() == batch_cells(docs)

    # replay of a committed batch id: guarded no-op
    from kafka_stream_spark.streaming.pipeline import (
        additive_combine,
        merged_store_apply,
    )

    before = store_cells()
    ran = merged_store_apply(
        cms_partial(wave2), store, 0, additive_combine(["j", "cell"], ["cc"])
    )
    assert not ran
    assert store_cells() == before
