"""Full-gate sf0.1 differential sweep driver (VERDICT r11 next #1).

Runs every hash-gated registered key through tools/check.py at the
given sf_dir in CHUNKS, each chunk a fresh subprocess (bounded memory
over an hours-long run, and a crash loses only one chunk). The log is
append-only and keys already ok in it are skipped on re-invocation, so
the sweep is resumable.

Waivers (excluded, printed in the summary): keys whose DuckDB oracle
is by-design super-linear at 10x the gate SF — the oracle cost, not
the Spark plan, is the bound (FIXTURES.md documents each).

Usage: python tools/sweep.py [sf_dir] [--log PATH] [--chunk N]
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: oracle-side cost waivers, each with its FIXTURES.md justification.
WAIVERS: dict[str, str] = {
    "q_lsh_recall": "all-pairs exact-Jaccard DuckDB oracle (quadratic); "
    "Spark side is banded (FIXTURES.md r11)",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--log", default=os.path.join(ROOT, "SWEEP_sf01.txt"))
    ap.add_argument("--chunk", type=int, default=40)
    ap.add_argument("--timeout", type=int, default=3600, help="per-chunk seconds")
    ap.add_argument(
        "--first",
        default=None,
        help="file with one key per line to sweep FIRST (e.g. the keys "
        "touched this round, so their certification lands even if the "
        "full sweep is cut short; the sweep then continues with the rest)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    keys = [k for k in qs if k in oracles and k not in WAIVERS]

    done: set[str] = set()
    try:
        with open(args.log) as fh:
            for line in fh:
                m = re.match(r"(ok|rows-only)\s+(\S+):", line)
                if m:
                    done.add(m.group(2))
    except FileNotFoundError:
        pass

    todo = [k for k in keys if k not in done]
    if args.first:
        with open(args.first) as fh:
            pri = [ln.strip() for ln in fh if ln.strip()]
        pri_set = set(pri)
        todo = [k for k in pri if k in set(todo)] + [
            k for k in todo if k not in pri_set
        ]
    print(
        f"sweep {args.sf_dir}: {len(keys)} gated keys, {len(done)} already ok, "
        f"{len(todo)} to run, waived: {sorted(WAIVERS)}",
        flush=True,
    )
    failures: list[str] = []
    with open(args.log, "a") as log:
        for i in range(0, len(todo), args.chunk):
            chunk = todo[i : i + args.chunk]
            try:
                p = subprocess.run(
                    [sys.executable, "tools/check.py", args.sf_dir, *chunk],
                    capture_output=True,
                    text=True,
                    cwd=ROOT,
                    timeout=args.timeout,
                )
                out = p.stdout
            except subprocess.TimeoutExpired as e:
                out = (e.stdout or "") + f"\nFAIL  <chunk timeout {args.timeout}s: {chunk}>\n"
            for line in out.splitlines():
                if re.match(r"(ok|rows-only|FAIL)\s", line):
                    log.write(line + "\n")
                    if line.startswith("FAIL"):
                        failures.append(line)
                        print(line, flush=True)
            log.flush()
            n_ok = sum(1 for line in open(args.log) if line.startswith("ok"))
            print(
                f"# chunk {i // args.chunk + 1}/{-(-len(todo) // args.chunk)}: "
                f"{n_ok} ok cumulative, {len(failures)} failed",
                flush=True,
            )
    print(
        f"\nSWEEP DONE: {len(keys) - len(failures)} ok of {len(keys)} gated "
        f"keys at {args.sf_dir}; {len(failures)} FAILED; waived "
        f"{sorted(WAIVERS)}"
    )
    for f in failures:
        print(f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
