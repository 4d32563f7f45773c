#!/usr/bin/env python3
"""Steadiness report: repeats each workload with different seeds and
prints, for every end-to-end metric, the median, the quartiles, the
quartile spread (q3 - q1) / median and the max/min spread. Flags a
metric whose quartile spread exceeds a tenth or a third of its bound in
BENCHMARK.json, and a stream run whose generator ran later than its
paced interval.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10]

Run i uses seed i.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    logs = ROOT / "perfbench" / ".work" / "steady"
    logs.mkdir(parents=True, exist_ok=True)
    (logs / f"{workload}-{seed}.err").write_text(p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    late = re.search(r"gen\.late_s\.max=([0-9.eE-]+) paced_s=([0-9.eE-]+)", p.stderr)
    return json.loads(lines[-1]), late and (float(late.group(1)), float(late.group(2)))


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    flagged = 0
    for w in a.workloads.split(","):
        values = {}
        for seed in range(1, a.runs + 1):
            res, late = run(w, seed, a.seconds)
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}")
                flagged += 1
            if late and late[0] > late[1]:
                print(f"{w} seed {seed}: generator ran {late[0]:.3f}s late, "
                      f"more than the paced interval {late[1]:.3f}s")
                flagged += 1
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"\n{w}: {a.runs} runs")
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'max/min':>8}")
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            iqr = (q3 - q1) / med
            mm = max(vs) / min(vs)
            flags = []
            if iqr > 0.1:
                flags.append("does not repeat within a tenth")
            if iqr > bounds.get(k, 1) / 3:
                flags.append("spread above a third of its bound")
            flagged += bool(flags)
            print(f"  {k:24} {med:12.5g} {q1:12.5g} {q3:12.5g} {iqr:8.3f} {mm:8.3f} {'; '.join(flags)}")
        print()
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
