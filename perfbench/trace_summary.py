#!/usr/bin/env python3
"""Summarizes traced runs: per workload, each layer's self time per op
(its spans' time minus their child spans'), and the median over traced
ops of their summed self times set against the untraced op latency
median of the same run.

    python3 perfbench/run.py --workload sync_apply --seed 1 --seconds 10 --trace 1
    python3 perfbench/trace_summary.py [perfbench/.work/traces/*.json]
"""
import glob
import json
import sys
from collections import defaultdict
from statistics import median


def summarize(path):
    t = json.load(open(path))
    spans = t["spans"]
    child = defaultdict(float)
    for s in spans:
        child[s["parent"]] += s["end_ns"] - s["start_ns"]
    ops = {s["op"] for s in spans if s["layer"] == "op"}
    self_s = defaultdict(float)
    per_op = defaultdict(float)
    for s in spans:
        own = (s["end_ns"] - s["start_ns"] - child[s["id"]]) / 1e9
        self_s[s["layer"]] += own
        per_op[s["op"]] += own
    jobs = defaultdict(int)
    for j in t["jobs"]:
        jobs[j["layer"]] += 1
    m = t["metrics"]
    print(f"== {t['workload']} seed {t['seed']}: {len(ops)} traced ops, {len(t['jobs'])} jobs")
    n = max(1, len(ops))
    for layer, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10} self {s / n:9.4f} s/op   jobs {jobs[layer] / n:6.2f}/op")
    plain = m.get("latency_s.p50")
    over = m.get("trace.overhead_frac", 0.0)
    if ops and plain:
        total = median(per_op.values())
        print(f"  summed self times, median over traced ops {total:.4f} s; untraced "
              f"latency p50 {plain:.4f} s; gap {total / plain - 1:+.3f} "
              f"(tracing overhead {over:+.3f})")


if __name__ == "__main__":
    for p in sys.argv[1:] or sorted(glob.glob("perfbench/.work/traces/*.json")):
        summarize(p)
