"""The benchmark's three workloads.

Each takes a :class:`run.Run`, sets up (Spark session plus an untimed
warm-up), times ``run.seconds`` worth of whole operations, checks the outputs
against a computation made apart from the program, and fills in
``run.e2e`` (untraced) or ``run.layers`` (traced).

- ``board_backlog``: availableNow drains of one seeded backlog, each into
  empty sinks; a drain is timed, ``attempted`` counts envelopes.
- ``board_cycles``: the triggered deployment as a closed loop; each cycle
  writes one small file and restarts ``run_board_stream`` on the same
  checkpoint; a cycle is timed and counted.
- ``query_suite``: a fixed slice of ``plans.QUERIES`` over generated
  tables, each key written to the ``noop`` sink; a pass is timed,
  ``attempted`` counts keys.
"""

from __future__ import annotations

import contextlib
import io
import os
import time

import gen
import probes
import reference as ref
from probes import median

# ---------------------------------------------------------------------------
# board workloads
# ---------------------------------------------------------------------------

BACKLOG_FILES = 2
BACKLOG_PER_FILE = 25_000
BACKLOG_WORDS = (20, 60)
WARMUP_DRAINS = 2
DRAIN_S = 4.0  # nominal warm drain at 4 cores (see _timed_ops)
CYCLE_EVENTS = 250
CYCLE_WORDS = (4, 12)
WARMUP_CYCLES = 4
CYCLE_S = 2.0  # nominal warm cycle at 4 cores


def _sink_prints(spark, outs: list[str]) -> list[dict[str, dict[int, tuple[int, int]]]]:
    """Per-batch fingerprints of the three sinks under each of ``outs``
    (one Spark job per sink for all of them): the Spark twin of
    :func:`reference.fingerprint` over the key, rule and label columns for
    announcements and sentiment, and over ``only_id`` for the keystore.
    Returns, per ``outs`` entry, sink → ``__batch_id`` → (rows, hash sum)."""
    from functools import reduce

    from pyspark.sql import functions as F

    prints: list[dict] = [{} for _ in outs]
    for sink in ("announcements", "sentiment", "keystore"):
        cols = ("only_id",) if sink == "keystore" else ref.KEY_COLS
        parts = [F.coalesce(F.col(c).cast("string"), F.lit(ref.NULL_MARK)) for c in cols]
        h = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10)
        frames = [spark.read.parquet(path).select(F.lit(i).alias("out"), "__batch_id", h.alias("h"))
                  for i, out in enumerate(outs)
                  if os.path.isdir(path := _sink_dirs(out)[sink])]
        for p in prints:
            p[sink] = {}
        if not frames:
            continue
        rows = reduce(lambda a, b: a.unionByName(b), frames).groupBy("out", "__batch_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
        ).collect()
        for r in rows:
            prints[r["out"]][sink][int(r["__batch_id"])] = (int(r["n"]), int(r["s"]))
    return prints


def _expected_prints(expected: dict[str, tuple]) -> dict[str, tuple[int, int]]:
    rows = ref.fingerprint(expected.values())
    return {"announcements": rows, "sentiment": rows,
            "keystore": ref.fingerprint((oid,) for oid in expected)}


def _check_sinks(run, prints, batch_ids, want: dict[str, tuple[int, int]], what: str) -> None:
    """Over ``batch_ids``, announcements and sentiment hold exactly the
    expected multiset of key, rule and label values, and the keystore
    exactly the expected ``only_id`` set, each once (``want`` is
    :func:`_expected_prints` of the expected rows)."""
    for sink, fp in want.items():
        got = [prints[sink].get(b, (0, 0)) for b in batch_ids]
        got = (sum(n for n, _ in got), sum(h for _, h in got))
        run.check(got == fp, f"{what}: {sink} holds {got[0]} rows, expected {fp[0]}, "
                             "or their values differ from the reference")


def _all_batches(prints) -> set[int]:
    return set().union(*prints.values())


def _dims():
    from kafka_stream_spark.sources import dims

    return dims.RULES_ROWS, dims.SITES_ROWS


def _sink_dirs(out: str) -> dict[str, str]:
    from kafka_stream_spark.streaming.pipeline import SinkPaths

    s = SinkPaths.under(out)
    return {"announcements": s.announcements, "sentiment": s.sentiment, "keystore": s.keystore}


class _BoardTracer:
    """Per-operation readings for the traced board runs."""

    def __init__(self, run) -> None:
        self.run = run
        self.samples: dict[str, list[float]] = {}
        self._seen: set[int] = set()
        self._sink_totals: dict[str, tuple[int, int]] = {}

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def after_op(self, query, start_ms: float, out: str) -> None:
        sc = self.run.spark.sparkContext
        ids = probes.job_ids(sc, [None, str(query.runId)]) - self._seen
        self._seen |= ids
        jobs, stages, tasks = probes.job_cost(sc, ids)
        for name, v in dict(probes.progress_totals(query), jobs=jobs, stages=stages,
                            tasks=tasks, start_ms=start_ms).items():
            self.add(name, v)
        for sink, path in _sink_dirs(out).items():
            files, size = probes.tree_size(path)
            files0, size0 = self._sink_totals.get(path, (0, 0))
            self._sink_totals[path] = (files, size)
            self.add(f"{sink}.sink_files", files - files0)
            self.add(f"{sink}.sink_bytes", size - size0)

    def static_layers(self, input_dir: str) -> None:
        """``parse_cdc`` and ``parse_cdc`` + ``enrich_cdc`` over the
        workload's input as static frames to the ``noop`` sink; each is
        timed on its second run (the first warms it)."""
        from kafka_stream_spark.streaming.pipeline import enrich_cdc
        from kafka_stream_spark.streaming.sources import parse_cdc

        spark = self.run.spark
        raw = spark.read.format("text").load(input_dir)

        def timed(make):
            for _ in range(2):
                t = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                ms = (time.perf_counter() - t) * 1e3
            return ms

        layers = self.run.layers
        layers["parse_ms"] = timed(lambda: parse_cdc(raw))
        layers["enrich_ms"] = timed(lambda: enrich_cdc(parse_cdc(raw), spark)) - layers["parse_ms"]
        layers["rows_in"] = raw.count()
        layers["rows_kept"] = parse_cdc(raw).count()
        layers["updates_dropped"] = layers["rows_in"] - layers["rows_kept"]
        layers["rows_matched"] = enrich_cdc(parse_cdc(raw), spark).count()

    def finish(self, op_ms: list[float]) -> None:
        """Median per operation; the state size as it ends."""
        for name, values in self.samples.items():
            last = name in ("state_rows", "state_memory_bytes")
            self.run.layers[name] = values[-1] if last else median(values)
        self.run.layers["traced_op_ms"] = median(op_ms)


def _drain(run, input_dir: str, out: str) -> tuple[float, float, object]:
    """One availableNow drain into empty sinks: (start_ms, wall s, query)."""
    from kafka_stream_spark.streaming.pipeline import run_board_stream

    t = time.perf_counter()
    q = run_board_stream(run.spark, input_dir, out, os.path.join(out, "_checkpoint"))
    start_ms = (time.perf_counter() - t) * 1e3
    q.awaitTermination()
    return start_ms, time.perf_counter() - t, q


def board_backlog(run) -> None:
    rules, sites = _dims()
    with run.untimed():
        input_dir = os.path.join(run.tmp, "backlog")
        os.makedirs(input_dir)
        history: list = []
        for f in range(BACKLOG_FILES):
            lines, inserts = gen.board_lines(run.seed, 0, BACKLOG_PER_FILE, BACKLOG_WORDS,
                                             history, f * BACKLOG_PER_FILE)
            history += inserts
            gen.write_lines(os.path.join(input_dir, f"part-{f}.json"), lines)
        expected = ref.expected_rows(history, rules, sites)
    n_events = BACKLOG_FILES * BACKLOG_PER_FILE

    run.start_spark()
    # warm-up: untimed drains of the same backlog; a cold JVM needs two
    # before a drain takes its steady time (measured: 5.7, 4.7, 4.3, 4.3 s
    # for the four drains after one warm-up drain)
    for i in range(WARMUP_DRAINS):
        _drain(run, input_dir, os.path.join(run.tmp, f"warm-{i}"))
    run.ready()

    tracer = _BoardTracer(run) if run.trace else None
    drains: list[tuple[str, float]] = []
    for _ in range(_timed_ops(run, DRAIN_S)):
        out = os.path.join(run.tmp, f"drain-{len(drains)}")
        start_ms, wall, q = _drain(run, input_dir, out)
        drains.append((out, wall))
        if tracer:
            tracer.after_op(q, start_ms, out)
    run.attempted = n_events * len(drains)
    run.log(f"timed {len(drains)} drains: {[round(w, 3) for _, w in drains]} s")

    with run.untimed():
        want = _expected_prints(expected)
        for i, prints in enumerate(_sink_prints(run.spark, [out for out, _ in drains])):
            _check_sinks(run, prints, _all_batches(prints), want, f"drain {i}")
    walls = [w for _, w in drains]
    if tracer:
        tracer.static_layers(input_dir)
        tracer.finish([w * 1e3 for w in walls])
    else:
        run.e2e["latency_p50_ms"] = median(walls) * 1e3
        run.e2e["throughput_ops_s"] = n_events / median(walls)


def _timed_ops(run, nominal_s: float) -> int:
    """How many operations a run times: ``--seconds`` worth at the
    operation's nominal time, at least 3. The count depends on nothing
    measured, because operations keep getting faster for many rounds after
    the warm-up (JIT): with a time-boxed loop, a run that fit one more
    operation reported a median from further down that curve."""
    return max(3, round(run.seconds / nominal_s))


def _batch_ids(out: str) -> set[int]:
    """Batch ids that have a partition in any of the sinks under ``out``."""
    ids = set()
    for path in _sink_dirs(out).values():
        if os.path.isdir(path):
            ids.update(int(n.split("=", 1)[1]) for n in os.listdir(path)
                       if n.startswith("__batch_id="))
    return ids


def board_cycles(run) -> None:
    rules, sites = _dims()
    input_dir = os.path.join(run.tmp, "cycles")
    out = os.path.join(run.tmp, "cycles-out")
    ckpt = os.path.join(run.tmp, "cycles-checkpoint")
    os.makedirs(input_dir)
    history: list = []
    expected_all: dict[str, tuple] = {}
    per_cycle: list[tuple[set[int], dict[str, tuple]]] = []

    from kafka_stream_spark.streaming.pipeline import run_board_stream

    def cycle(c: int, tracer=None) -> float:
        """Write cycle ``c``'s file, run the stream to completion on the
        shared checkpoint, and note which batch partitions it added."""
        with run.untimed():
            lines, inserts = gen.board_lines(run.seed, 1, CYCLE_EVENTS, CYCLE_WORDS, history,
                                             c * CYCLE_EVENTS)
            history.extend(inserts)
            new = ref.expected_rows(inserts, rules, sites)
            expected_all.update(new)
            before = _batch_ids(out)
        gen.write_lines(os.path.join(input_dir, f"cycle-{c:05d}.json"), lines)
        t = time.perf_counter()  # the cycle's input file is complete
        q = run_board_stream(run.spark, input_dir, out, ckpt)
        start_ms = (time.perf_counter() - t) * 1e3
        q.awaitTermination()
        wall = time.perf_counter() - t
        with run.untimed():
            if tracer:
                tracer.after_op(q, start_ms, out)
            per_cycle.append((_batch_ids(out) - before, new))
        return wall

    run.start_spark()
    for c in range(WARMUP_CYCLES):
        cycle(c)
    run.ready()

    tracer = _BoardTracer(run) if run.trace else None
    walls: list[float] = []
    for _ in range(_timed_ops(run, CYCLE_S)):
        walls.append(cycle(WARMUP_CYCLES + len(walls), tracer))
    run.attempted = len(walls)
    run.log(f"timed {len(walls)} cycles: {[round(w, 3) for w in walls]} s")

    with run.untimed():
        # every cycle's own batch partitions, then the sinks as a whole
        [prints] = _sink_prints(run.spark, [out])
        for c, (ids, new) in enumerate(per_cycle):
            _check_sinks(run, prints, ids, _expected_prints(new), f"cycle {c}")
        _check_sinks(run, prints, _all_batches(prints), _expected_prints(expected_all),
                     "all cycles")
    if tracer:
        tracer.static_layers(input_dir)
        tracer.finish([w * 1e3 for w in walls])
    else:
        run.e2e["latency_p50_ms"] = median(walls) * 1e3
        run.e2e["throughput_ops_s"] = len(walls) / sum(walls)


# ---------------------------------------------------------------------------
# query suite
# ---------------------------------------------------------------------------

#: the fixed slice of plans.QUERIES, by the layer each key leans on
SUITE_KEYS = (
    "q_board_pipeline", "q_insert_only_filter",  # board
    "q_tpch_q5",  # execution-bound
    "q_near_dedup",  # construction- and eager-job-bound
    "q_ann_ivf",  # vector quantization
)
PASS_S = 4.0  # nominal warm pass over SUITE_KEYS at 4 cores


def _norm(v) -> str:
    import datetime as dt

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def _multiset(rows, cols: list[str]) -> dict[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict[str, int] = {}
    for r in rows:
        k = "|".join(_norm(r[i]) for i in order)
        out[k] = out.get(k, 0) + 1
    return out


def _oracle_check(run, con, key: str, sql: str, rows, cols: list[str]) -> None:
    res = con.sql(sql)
    d_cols = list(res.columns)
    d_rows = res.fetchall()
    run.check(sorted(d_cols) == sorted(cols), f"{key}: columns {sorted(cols)} != oracle {sorted(d_cols)}")
    run.check(_multiset(rows, cols) == _multiset(d_rows, d_cols),
              f"{key}: {len(rows)} rows differ from the DuckDB oracle's {len(d_rows)}")


def query_suite(run) -> None:
    import duckdb

    from kafka_stream_spark.plans import ORACLES, QUERIES
    from kafka_stream_spark.sources.tables import TABLES

    sf_dir = os.path.join(run.tmp, "sf")
    with run.untimed():
        gen.write_tables(run.seed, sf_dir)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark = run.start_spark()

    # untimed pass: every key's output is checked against its oracle
    for key in SUITE_KEYS:
        df = QUERIES[key](spark, sf_dir)
        rows = df.collect()
        with run.untimed():
            _oracle_check(run, con, key, ORACLES[key], rows, df.columns)
    con.close()
    for key in SUITE_KEYS:  # one more untimed pass, as the timed ones run
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
    run.ready()

    samples: dict[str, list[float]] = {}
    key_s: dict[str, list[float]] = {key: [] for key in SUITE_KEYS}
    n_passes = _timed_ops(run, PASS_S)
    for _ in range(n_passes):
        for key in SUITE_KEYS:
            t = time.perf_counter()
            if run.trace:
                for name, v in _traced_key(run, key, QUERIES[key], sf_dir).items():
                    samples.setdefault(name, []).append(v)
            else:
                QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
            key_s[key].append(time.perf_counter() - t)
    run.attempted = len(SUITE_KEYS) * n_passes
    # one pass, each key at its median: a stall that hits a different key
    # in each pass does not move it
    pass_s = sum(median(v) for v in key_s.values())
    run.log(f"timed {n_passes} passes; median key times "
            f"{ {k: round(median(v), 3) for k, v in key_s.items()} } s")

    if run.trace:
        totals = ("construct_s", "eager_jobs", "plan_s", "exec_s", "jobs", "stages", "tasks")
        for name in totals:
            per_pass = [sum(samples[f"{k}.{name}"][i] for k in SUITE_KEYS)
                        for i in range(n_passes)]
            run.layers[name] = median(per_pass)
        for key in SUITE_KEYS:
            for name in ("construct_s", "exec_s", "eager_jobs"):
                run.layers[f"{key}.{name}"] = median(samples[f"{key}.{name}"])
        run.layers["traced_op_ms"] = pass_s * 1e3
    else:
        run.e2e["latency_p50_ms"] = pass_s * 1e3
        run.e2e["throughput_ops_s"] = len(SUITE_KEYS) / pass_s


def _traced_key(run, key: str, build, sf_dir: str) -> dict[str, float]:
    """Construction (with the eager jobs it fires), planning and the final
    ``noop`` action of one key, each under its own job group."""
    spark = run.spark
    sc = spark.sparkContext
    group = f"perf-{key}-{time.perf_counter_ns()}"

    sc.setJobGroup(group + "-construct", key)
    t = time.perf_counter()
    df = build(spark, sf_dir)
    construct_s = time.perf_counter() - t
    t = time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        df.explain()
    plan_s = time.perf_counter() - t
    sc.setJobGroup(group + "-exec", key)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t
    sc.setLocalProperty("spark.jobGroup.id", None)

    eager = probes.job_ids(sc, [group + "-construct"])
    jobs, stages, tasks = probes.job_cost(sc, eager | probes.job_ids(sc, [group + "-exec"]))
    return {f"{key}.construct_s": construct_s, f"{key}.plan_s": plan_s,
            f"{key}.exec_s": exec_s, f"{key}.eager_jobs": len(eager),
            f"{key}.jobs": jobs, f"{key}.stages": stages, f"{key}.tasks": tasks}


WORKLOADS = {
    "board_backlog": board_backlog,
    "board_cycles": board_cycles,
    "query_suite": query_suite,
}
