"""One-command round close: the audit-trail steps the verdict flagged
when done by hand (CHECK_r5 lagged 45 queries; CHECK_r6 was cited but
never written) — now a single script that cannot skip a step.

    python tools/close_round.py r8 [--bench] [--shards 4]

1. Runs the FULL differential gate over every registered query in N
   sequential shards (interleaved over the sorted name list so shard
   runtimes balance), streaming each shard's checker output.
2. Writes CHECK_<tag>.txt with a machine-generated header (totals
   counted from the actual output, never typed) and the full
   per-query lines.
3. FAILS (exit 1, no CHECK file) if any query FAILED.
4. Regenerates the README status block (check.py --summary), which
   itself fails if any registered key lacks a SURVEY §2 row.
5. With --bench, runs bench.py and reports the regressions field.

The caller still commits — the script prints the files to stage so
the closing record lands in the same commit that ends the round.
"""

from __future__ import annotations

import concurrent.futures
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: The reference-surface keys (SURVEY §2 rows S/F/P/J/A/D/K/T — the 39
#: operators mapped in VERDICT's coverage table). The warm sharded gate
#: structurally cannot see first-query-of-a-fresh-session bugs (the
#: q_rule_match exprId collision hid behind warm shards for 8 rounds), so
#: each of these also runs COLD: one check.py subprocess per key, the key
#: as the first and only query of its own SparkSession.
REFERENCE_SURFACE_KEYS: list[str] = [
    "q_source_scan",       # S1
    "q_stream_pipeline",   # S1/T1-T3
    "q_insert_only_filter",  # S2/F1
    "q_dim_scan",          # S3
    "q_notnull_filter",    # S4/F5
    "q_limit",             # S5
    "q_inlist_filter",     # F2-F3
    "q_count_since",       # F4/A1
    "q_project_rename",    # P1
    "q_ts_format",         # P2
    "q_current_ts",        # P3
    "q_surrogate_key",     # P4
    "q_concat_key",        # P6
    "q_uuid3_key",         # P5
    "q_score_decode",      # P8
    "q_assemble_wide",     # P10
    "q_rule_match",        # P11/J3
    "q_anti_filter",       # J3 veto half
    "q_name_lookup_join",  # J1
    "q_industry_join",     # J2
    "q_board_pipeline",    # J4 + flagship
    "q_pivot_levels",      # A2
    "q_dedup",             # D1
    "q_multi_sink",        # K1-K4
    "q_csv_source",        # K3
    "q_stream_window",     # T4
    "q_session_window",    # T4
    "q_stateful_stats",    # T5
    # order-dependent sequential folds (applyInPandas family) — the
    # other plan shape where fresh-session binding bugs could hide
    "q_kalman_1d_grouped",  # X648
    "q_elo_ratings",        # X685
    "q_gae_advantage",      # X692
    "q_vtrace",             # X711
    "q_sprt_decision",      # X721
]


#: Ledger of keys that have already had a cold (first-query-of-a-fresh-
#: session) run via the rotation tier. ADVICE r10: the old offset-window
#: rotation recomputed its window over a pool that grows every round, so
#: insertions shifted offsets and some keys could be skipped forever.
#: The ledger makes the schedule stable: each round cold-runs the first
#: ``per_round`` registered non-fixed keys NOT yet in the ledger (sorted
#: order), then appends them — every key provably cycles through cold
#: exactly once before any key repeats.
COLD_LEDGER = os.path.join(ROOT, "tools", "cold_ledger.json")

#: Hash-gated keys for which a 0-row result is the genuinely correct
#: output on the testdata (each needs a FIXTURES.md justification).
ZERO_ROW_WAIVERS: set[str] = set()


def rotated_cold_keys(tag: str, per_round: int = 40) -> list[str]:
    """VERDICT r9 #4 + ADVICE r10: rotate X-tier keys through the cold
    gate on a stable per-key schedule (ledger of already-cold-run keys,
    not a pool-length-dependent offset window).  per_round=40 (VERDICT
    r11 #5): at 20/round the ~770-key non-fixed pool needed ~38 rounds
    per cycle; 40 doubles the first-query-in-process hunt rate at ~7
    min of 8-CPU subprocess wall."""
    import json as _json

    fixed = set(REFERENCE_SURFACE_KEYS)
    pool = [k for k in _registered_keys() if k not in fixed]
    if not pool:
        return []
    done: list[str] = []
    if os.path.exists(COLD_LEDGER):
        done = _json.load(open(COLD_LEDGER))
    fresh = [k for k in pool if k not in set(done)]
    if not fresh:  # full cycle complete — next pass starts from the top
        fresh = pool
    return fresh[:per_round]


def record_cold_ledger(keys: list[str]) -> None:
    """Append this round's rotation picks to the ledger; when the cycle
    was already complete before this round, restart it."""
    import json as _json

    done = []
    if os.path.exists(COLD_LEDGER):
        done = _json.load(open(COLD_LEDGER))
    pool = set(_registered_keys()) - set(REFERENCE_SURFACE_KEYS)
    if not (pool - set(done)):  # cycle finished last round
        done = []
    done = sorted(set(done) | (set(keys) & pool))
    _json.dump(done, open(COLD_LEDGER, "w"), indent=0)


def run_cold_tier(sf_dir: str, keys: list[str]) -> tuple[list[str], int]:
    """Run each key as the FIRST query of its own fresh process.

    Returns (per-key result lines, n_failed). 4 subprocesses at a time,
    8 cores each — cold isolation is about session freshness, not about
    serialising the wall clock.
    """
    registered = set(_registered_keys())
    keys = [k for k in keys if k in registered]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")

    def one(key: str) -> str:
        proc = subprocess.run(
            [sys.executable, "tools/check.py", sf_dir, key],
            capture_output=True,
            text=True,
            cwd=ROOT,
            env=env,
        )
        out = proc.stdout.replace("\r", "\n")
        for ln in out.splitlines():
            if re.match(r"^(ok|FAIL|rows-only)\s", ln):
                return ln
        return f"FAIL  {key}: no result line (rc={proc.returncode})"

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        lines = list(pool.map(one, keys))
    n_fail = sum(1 for ln in lines if ln.startswith("FAIL"))
    return lines, n_fail


def _registered_keys() -> list[str]:
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.queries())


def main() -> int:
    args = sys.argv[1:]
    if not args or not args[0].startswith("r"):
        print("usage: close_round.py r<N> [--bench] [--shards K]")
        return 2
    tag = args[0]
    bench = "--bench" in args
    shards = int(args[args.index("--shards") + 1]) if "--shards" in args else 4
    sf_dir = "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod

    names = sorted(entry_mod.queries())
    lines: list[str] = []
    n_ok = n_ro = n_fail = 0
    for i in range(shards):
        part = names[i::shards]
        print(f"shard {i}: {len(part)} queries", flush=True)
        proc = subprocess.run(
            [sys.executable, "tools/check.py", sf_dir, *part],
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        out = proc.stdout.replace("\r", "\n")
        # per-query result lines only — check.py's "<N> ok, ..." summary
        # row would otherwise interleave into the audit record
        shard_lines = [
            ln
            for ln in out.splitlines()
            if re.match(r"^(ok|FAIL|rows-only)\s", ln)
        ]
        lines.append(f"## shard {i}")
        lines.extend(shard_lines)
        n_ok += sum(1 for ln in shard_lines if ln.startswith("ok"))
        n_ro += sum(1 for ln in shard_lines if ln.startswith("rows-only"))
        fails = [ln for ln in shard_lines if ln.startswith("FAIL")]
        n_fail += len(fails)
        for ln in fails:
            print(ln, flush=True)
    if n_ok + n_ro + n_fail != len(names):
        print(
            f"COVERAGE GAP: {n_ok + n_ro + n_fail} result lines for "
            f"{len(names)} registered queries — aborting, no CHECK file",
            file=sys.stderr,
        )
        return 1
    if n_fail:
        print(f"{n_fail} FAILED — aborting, no CHECK file", file=sys.stderr)
        return 1

    # Degenerate-selectivity lint (VERDICT r10 #1/#5): a hash-gated key
    # that returns 0 rows "passes" while pinning nothing (q_token_pmi and
    # q_kaplan_meier shipped vacuous for rounds this way). Hard-fail on
    # any 0-row hash-gated result not in the waiver list, and report the
    # ≤3-row tier so each low-row key carries an explicit disposition
    # (FIXTURES.md "Low-row gate instances").
    oracles = set(entry_mod.oracle_sql())
    rowcount = {}
    for ln in lines:
        m = re.match(r"^(ok|rows-only)\s+(\S+?):\s+(\d+) rows", ln)
        if m:
            rowcount[m.group(2)] = int(m.group(3))
    zero = sorted(
        k for k, n in rowcount.items()
        if n == 0 and k in oracles and k not in ZERO_ROW_WAIVERS
    )
    if zero:
        print(
            f"VACUOUS GATE: hash-gated keys returned 0 rows — the gate "
            f"pins nothing for them: {', '.join(zero)} — aborting, no "
            f"CHECK file (add to ZERO_ROW_WAIVERS only if a 0-row result "
            f"is genuinely the correct output)",
            file=sys.stderr,
        )
        return 1
    low = sorted(k for k, n in rowcount.items() if n <= 3)
    print(
        f"low-row tier (≤3 rows, disposition in FIXTURES.md): "
        f"{len(low)} keys",
        flush=True,
    )

    # Cold-isolation tier (VERDICT r8 #2): every reference-surface key as
    # the first query of its own fresh process — the only protocol that
    # can see first-query bugs like the q_rule_match exprId collision.
    rotation = rotated_cold_keys(tag)
    cold_keys = REFERENCE_SURFACE_KEYS + rotation
    print(
        f"cold tier: {len(REFERENCE_SURFACE_KEYS)} reference-surface keys "
        f"+ {len(rotation)} rotated X-tier keys "
        f"(round-indexed window: {', '.join(rotation)})",
        flush=True,
    )
    cold_lines, cold_fail = run_cold_tier(sf_dir, cold_keys)
    for ln in cold_lines:
        if ln.startswith("FAIL"):
            print(f"cold {ln}", flush=True)
    if cold_fail:
        print(f"{cold_fail} COLD FAILED — aborting, no CHECK file",
              file=sys.stderr)
        return 1
    lines.append("## cold (each key = first query of its own fresh session)")
    lines.extend(cold_lines)
    record_cold_ledger(rotation)

    ro_names = sorted(
        {ln.split()[1].rstrip(":") for ln in lines if ln.startswith("rows-only")}
    )
    header = [
        f"# CHECK_{tag} — full differential gate over all "
        f"{len(names)} registered queries",
        f"# sf_dir: {sf_dir}  protocol: tools/close_round.py, "
        f"{shards} interleaved shards (sorted names[i::{shards}])",
        f"# TOTAL: {n_ok} ok (value-hash match vs DuckDB), "
        f"{n_ro} rows-only by design ({', '.join(ro_names)}), 0 FAILED.",
        f"# COLD: {len(cold_lines)} keys re-run cold-isolated (one fresh "
        f"process each, key is the first query): "
        f"{len(REFERENCE_SURFACE_KEYS)} fixed reference-surface/stateful "
        f"+ {len(rotation)} rotated X-tier (stable ledger schedule: first "
        f"{len(rotation)} sorted non-fixed keys not yet in "
        f"tools/cold_ledger.json; every key cycles through cold exactly "
        f"once per pass): "
        f"{len(cold_lines) - cold_fail} ok, {cold_fail} FAILED.",
    ]
    path = os.path.join(ROOT, f"CHECK_{tag}.txt")
    with open(path, "w") as f:
        f.write("\n".join(header + lines) + "\n")
    print(f"wrote {path}: {n_ok} ok, {n_ro} rows-only, 0 FAILED")

    # bench BEFORE the README summary: the summary's bench line reads
    # BENCH_DETAIL.json, which must be this close's run, not the prior
    # round's (the round-8 close shipped a stale bench line this way)
    if bench:
        proc = subprocess.run(
            [sys.executable, "bench.py"],
            capture_output=True,
            text=True,
            cwd=ROOT,
        )
        if proc.returncode != 0:
            # ADVICE r8: a failed bench leaves BENCH_DETAIL.json stale or
            # partial — regenerating the README line from it would ship
            # the exact stale-bench-line bug the reorder was meant to fix.
            print(
                f"bench.py failed (rc={proc.returncode}) — aborting before "
                f"README summary; stderr tail:\n{proc.stderr[-1500:]}",
                file=sys.stderr,
            )
            return 1
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout else ""
        print(last)

    rc = subprocess.run(
        [sys.executable, "tools/check.py", "--summary", tag],
        cwd=ROOT,
    ).returncode
    if rc:
        return rc

    # Self-consistency assert (VERDICT r9 #1): the README bench line the
    # commit will carry must be derivable from the exact BENCH_DETAIL.json
    # being committed alongside it. A later manual bench run that rewrites
    # BENCH_DETAIL without re-running --summary made the r9 close ship a
    # phantom "36 regressions" line; this abort makes that impossible.
    import json

    from check import bench_line_from_detail

    bd = json.load(open(os.path.join(ROOT, "BENCH_DETAIL.json")))
    expected = bench_line_from_detail(bd)
    readme = open(os.path.join(ROOT, "README.md")).read()
    if expected not in readme:
        print(
            "README bench line does not match BENCH_DETAIL.json — "
            "aborting before staging.\nexpected line:\n" + expected,
            file=sys.stderr,
        )
        return 1
    print("README bench line ≡ BENCH_DETAIL.json: verified")

    # Stage everything the closing commit needs — including the driver's
    # own round artifacts (BENCH_r*/CORRECTNESS_r*/LEAKCHECK/COPYCHECK),
    # which were untracked at close two rounds running (verdict item #3).
    import glob
    import os

    stage = [
        f"CHECK_{tag}.txt",
        "README.md",
        "BENCH_DETAIL.json",
        "tools/cold_ledger.json",
    ]
    for pat in (
        "SCALE_PROBE.json",
        "SCALE.md",
        "BENCH_r*.json",
        "CORRECTNESS_r*.json",
        "LEAKCHECK.json",
        "COPYCHECK.json",
        "VERDICT.md",
        "ADVICE.md",
    ):
        stage.extend(
            os.path.basename(p) for p in glob.glob(os.path.join(ROOT, pat))
        )
    subprocess.run(["git", "add", "--"] + sorted(set(stage)), cwd=ROOT)
    print(f"staged for the closing commit: {' '.join(sorted(set(stage)))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
