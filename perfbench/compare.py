"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py A [B] [--trace-a 0] [--trace-b 0]

A and B are directories holding run records (run.py writes them to
perfbench/out/<workload>/; copy that directory aside to keep a set). For
each workload and end-to-end metric it prints the sample count, median and
quartiles of each set, and checks B against A with the bound in
BENCHMARK.json:

  ok          B's median is not worse than A's by more than the bound
  regressed   B's median is worse than A's by more than the bound
  unresolved  a set's run-to-run spread (interquartile range / median)
              exceeds the bound, and not every B run beats every A run

With one set it prints the spreads alone. Per-layer metrics of traced runs
are listed side by side without a verdict, and single-query latency
percentiles are pooled over all runs of a set (with their sample counts).
Comparing a set with itself at --trace-b 1 gives the tracing overhead.
"""

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def load(directory, trace):
    """{workload: [record, ...]} of the runs in `directory` at `trace`."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "**", "*.json"), recursive=True)):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == trace and "end_to_end" in rec:
            runs.setdefault(rec["workload"], []).append(rec)
    return runs


def summary(values):
    q1, med, q3 = metrics.quartiles(values)
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return dict(n=len(values), median=med, q1=q1, q3=q3, spread=spread)


def verdict(a, b, va, vb, bound, better):
    worse = (b["median"] - a["median"]) / abs(a["median"])
    if better == "higher":
        worse = -worse
        all_better = min(vb) > max(va)
    else:
        all_better = max(vb) < min(va)
    if (a["spread"] > bound or b["spread"] > bound) and not all_better:
        return worse, "unresolved"
    return worse, "regressed" if worse > bound else "ok"


def latencies(records):
    lat = []
    for r in records:
        groups, steps = metrics.split_run(r)
        lat += [s["dur"] * 1e3 for s in steps
                if s["name"] in metrics.SINGLE_STEPS and groups[s["top"]]["name"] == "round"]
    return lat


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--trace-a", type=int, default=0)
    ap.add_argument("--trace-b", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = [load(args.a, args.trace_a)] + ([load(args.b, args.trace_b)] if args.b else [])
    bad = False
    for w in sorted(set().union(*sets)):
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["end_to_end"][name] for r in s.get(w, [])] for s in sets]
            if not all(vals):
                continue
            sums = [summary(v) for v in vals]
            line = "  ".join(f"n={s['n']} med={fmt(s['median'])} q1={fmt(s['q1'])} "
                             f"q3={fmt(s['q3'])} spread={s['spread']:.3f}" for s in sums)
            if len(sets) == 2:
                worse, v = verdict(sums[0], sums[1], vals[0], vals[1], bound, m["better"])
                line += f"  worse_by={worse:+.3f} bound={bound} {v}"
                bad |= v != "ok"
            else:
                line += f"  bound={bound}" + (" SPREAD>BOUND" if sums[0]["spread"] > bound else "")
            print(f"  {name} [{m['unit']}] {line}")
        for s, label in zip(sets, "AB"):
            lat = latencies(s.get(w, []))
            if lat:
                print(f"  pooled single-query latency {label}: n={len(lat)} "
                      f"p50={fmt(metrics.percentile(lat, 0.5))} ms "
                      f"p95={fmt(metrics.percentile(lat, 0.95))} ms")
        for name, unit, _ in metrics.per_layer_specs():
            vals = [[r["per_layer"][name] for r in s.get(w, []) if r["per_layer"]] for s in sets]
            if any(any(v) for v in vals):
                print(f"  {name} [{unit}] " + "  ".join(
                    f"med={fmt(metrics.median(v))}" for v in vals if v))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
