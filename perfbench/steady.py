#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with its own seed,
and print every metric's median, quartiles and spread (inter-quartile
distance as a share of the median) next to the bound BENCHMARK.json
fixes for it.

Per run it also prints the host-contention sentinel (a fixed CPU loop
timed in the harness JVM; a diagnostic only, never used to correct a
metric) and the median latency of the first against the last quarter
of the run's units, so drift within a run shows.

    python3 perfbench/steady.py --workload ingest --runs 10 --seed0 1 --seconds 15
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def bounds():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def one(workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:  # no result at all; a failed output check still prints one
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return {"seed": seed, "wall_s": time.time() - t,
            "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def report(runs, bound):
    print(f"{'seed':>6} {'wall_s':>7} {'units':>5} {'sentinel_s':>10} "
          f"{'first_q_s':>9} {'last_q_s':>9} correct")
    for r in runs:
        d = r["detail"]
        print(f"{r['seed']:>6} {r['wall_s']:7.1f} {d['units']:5d} {d['sentinel_s']:10.3f} "
              f"{d['first_quarter_latency_s']:9.3f} {d['last_quarter_latency_s']:9.3f} "
              f"{r['result']['correct']}")
    print(f"\n{'metric':<26} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    names = runs[0]["result"]["metrics"].keys()
    for name in names:
        v = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = metrics.quartiles(v)
        b = bound.get(name)
        flag = "" if b is None else ("  ok" if metrics.spread(v) < b / 3 else "  WIDE")
        print(f"{name:<26} {med:12.5g} {q1:12.5g} {q3:12.5g} {metrics.spread(v):7.3f} "
              f"{'' if b is None else b:>6}{flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    runs = []
    for k in range(a.runs):
        runs.append(one(a.workload, a.seed0 + k, a.seconds))
        print(f"run {k + 1}/{a.runs} seed {a.seed0 + k}: {runs[-1]['wall_s']:.1f} s",
              file=sys.stderr)
    report(runs, bounds())


if __name__ == "__main__":
    main()
