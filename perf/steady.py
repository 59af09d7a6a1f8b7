"""Steadiness check: run one workload N times per side, alternating sides.

    python3 perf/steady.py --workload board_backlog --runs 10
    python3 perf/steady.py --workload board_backlog --runs 10 --other ../parent

Side A is this checkout; side B is ``--other`` (another checkout, e.g. the
parent commit) or, without it, this checkout again. Run i of each side
uses seed ``--seed0 + i``; which side goes first alternates. For every
end-to-end metric it prints each side's median and quartiles, the spread
(Q3 - Q1) / median, and whether the two sets agree within the bounds in
BENCHMARK.json: each spread (setup_s excepted) within the bound, B's
median no worse than A's by more than the bound, and the same share of
failed operations on both sides. Exits 1 when they do not agree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perf/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"run failed in {checkout} (exit {proc.returncode})")
    return json.loads(lines[-1])


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--other", help="checkout for side B (default: this one)")
    args = ap.parse_args(argv)
    if args.runs < 2:
        ap.error("--runs must be at least 2 to have quartiles")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sides = {"A": ROOT, "B": os.path.abspath(args.other or ROOT)}
    results: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.runs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for side in order:
            r = run_once(sides[side], args.workload, args.seed0 + i, spec["run_seconds"])
            results[side].append(r)
            shown = ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"run {i} side {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {shown}", flush=True)

    ok = True
    print(f"\n{args.workload}: {args.runs} runs per side, run_seconds={spec['run_seconds']}")
    print(f"{'metric':<18} {'side':<4} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        med = {}
        for side in ("A", "B"):
            s = summary([r["metrics"][name]["value"] for r in results[side]])
            med[side] = s[0]
            flag = ""
            if name != "setup_s" and s[3] > bound:
                ok, flag = False, "  SPREAD > bound"
            print(f"{name:<18} {side:<4} {s[0]:>12.4f} {s[1]:>12.4f} {s[2]:>12.4f} "
                  f"{s[3]:>8.3%} {bound:>6}{flag}")
        worse = (med["B"] - med["A"]) / med["A"]
        if m["better"] == "higher":
            worse = -worse
        verdict = "ok" if worse <= bound else "WORSE than bound"
        ok &= worse <= bound
        print(f"{'':<18} B vs A: {worse:+.3%} worse ({verdict})")
    share = {s: [r["failed"] / r["attempted"] for r in results[s]] for s in results}
    same_share = len(set(share["A"] + share["B"])) == 1
    ok &= same_share and all(r["correct"] for s in results for r in results[s])
    print(f"failed share per run: {sorted(set(share['A'] + share['B']))} "
          f"({'same on every run' if same_share else 'DIFFERS'})")
    print("AGREE" if ok else "DISAGREE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
