"""Per-layer readings taken from outside the program.

Only public surfaces are read: Spark's own status tracker and streaming
progress, the sink directories the pipeline writes, and ``/proc`` for
memory. Nothing here is called inside a timed interval of an untraced run.
"""

from __future__ import annotations

import json
import os
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def job_ids(sc, groups) -> set[int]:
    """Ids of the jobs the status tracker still holds for ``groups``
    (``None`` is the jobs that ran outside any job group)."""
    st = sc.statusTracker()
    return {j for g in groups for j in st.getJobIdsForGroup(g)}


def job_cost(sc, ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the given job ids."""
    st = sc.statusTracker()
    stages = set()
    for j in ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(ids), len(stages), tasks


#: streaming progress durations (durationMs keys) → per-layer names
PHASES = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "triggerExecution": "trigger_execution_ms",
}


def progress_totals(query) -> dict[str, float]:
    """Sum one query run's ``recentProgress`` over its batches."""
    out = {name: 0.0 for name in PHASES.values()}
    out.update(state_commit_ms=0.0, dup_rows_dropped=0.0, state_rows=0.0,
               state_memory_bytes=0.0)
    for p in query.recentProgress:
        prog = json.loads(p.json)
        for phase, name in PHASES.items():
            out[name] += prog.get("durationMs", {}).get(phase, 0)
        for op in prog.get("stateOperators", []):
            out["state_commit_ms"] += op.get("commitTimeMs", 0)
            out["dup_rows_dropped"] += op.get("customMetrics", {}).get(
                "numDroppedDuplicateRows", 0)
            out["state_rows"] = op.get("numRowsTotal", 0)
            out["state_memory_bytes"] = op.get("memoryUsedBytes", 0)
    return out


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden/marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the py4j JVM and anything it runs)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus the py4j
    JVM it launched. ``RUSAGE_SELF`` would miss the JVM and
    ``RUSAGE_CHILDREN`` counts only children that have exited. Python
    workers the JVM forks are left out: they come and go during a run, so
    whether one is alive when this is read is chance."""
    me = os.getpid()
    jvms = [p for p in descendants(me) if _comm(p) == "java"]
    kb = _status_kb(me, "VmHWM") + sum(_status_kb(p, "VmHWM") for p in jvms)
    return kb / 1024.0
