"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perf/run.py --workload board_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into a
fresh directory under ``.perf_tmp/`` that is removed when the run ends;
the program under test (``kafka_stream_spark``) sees only those files.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import probes
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _since_process_start() -> float:
    """Seconds since this process was started (``/proc`` start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_START_OFFSET = _since_process_start()
_PC0 = time.perf_counter()


class Run:
    """One benchmark run: arguments, scratch directory, set-up clock and
    the metrics it will print."""

    def __init__(self, args: argparse.Namespace, tmp: str, spec: dict) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {m["name"]: 0.0 for m in spec["per_layer"]}
        self._excluded = 0.0
        self._warm_from = (0.0, 0.0)

    @staticmethod
    def elapsed() -> float:
        return _START_OFFSET + time.perf_counter() - _PC0

    @contextlib.contextmanager
    def untimed(self):
        """Input generation and output checks: kept out of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t

    def start_spark(self):
        t = time.perf_counter()
        from kafka_stream_spark.session import get_spark

        self.spark = get_spark("perf")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._warm_from = (time.perf_counter(), self._excluded)
        self.layers["session_start_s"] = self._warm_from[0] - t
        self.log(f"spark session up in {self.layers['session_start_s']:.2f}s")
        return self.spark

    def ready(self) -> None:
        """The first timed operation starts now: set-up ends, and the
        warm-up is what ran since the session started."""
        t, excluded = self._warm_from
        self.e2e["setup_s"] = self.elapsed() - self._excluded
        self.layers["warmup_s"] = time.perf_counter() - t - (self._excluded - excluded)
        self.log(f"ready: setup {self.e2e['setup_s']:.2f}s, warm-up {self.layers['warmup_s']:.2f}s, "
                 f"generation and checks {self._excluded:.2f}s")

    def log(self, what: str) -> None:
        """Progress line on stderr, stamped with seconds since process start."""
        print(f"[perf {self.elapsed():7.2f}s] {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def _stop_spark(run: Run) -> None:
    """Stop Spark and wait for the JVM and its workers to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        run.spark.stop()
    except Exception:  # still take the JVM down below
        traceback.print_exc()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := probes.descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_stream_spark")):
        print(f"no program sources under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(1, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perf_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # Spark's scratch, the JVM's temp files and anything written relative
    # to the working directory stay inside the run's directory
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        KSS_ANN_DIR=os.path.join(tmp, "ann"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=("--driver-java-options -Xms2g "
                             "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    )
    tempfile.tempdir = tmp
    os.chdir(tmp)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, tmp, spec)
    try:
        workloads.WORKLOADS[args.workload](run)
        run.log(f"done: {run.attempted} operations, {len(run.problems)} failed checks")
        run.e2e["peak_rss_mb"] = probes.peak_rss_mb()
    finally:
        try:
            _stop_spark(run)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(tmp, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(base)

    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    source = run.layers if run.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        print(f"workload produced no value for {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
