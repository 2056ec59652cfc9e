#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <before> <after>

Each side is a directory of result files written by run.py (for example a
copy of perfbench/results/ from each commit). For every workload and
end-to-end metric it prints each side's median and quartiles over its
untraced runs, and a verdict against the metric's bound in BENCHMARK.json:

  better      the median improved by more than the before side's own spread
              (IQR / median), or every after run beats every before run
  no worse    the median did not worsen by more than the bound
  worse       the median worsened by more than the bound
  unresolved  either side's spread exceeds the bound (and the runs overlap)

Then it prints the per-layer metrics of the traced runs side by side, with
the relative change of the medians.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(side):
    runs = {}
    for path in glob.glob(os.path.join(side, "**", "*.json"), recursive=True):
        try:
            r = json.load(open(path))
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "workload" in r and "metrics" in r:
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def verdict(before, after, bound, lower_better):
    sign = 1 if lower_better else -1
    mb, ma = statistics.median(before), statistics.median(after)
    if all(sign * (a - b) < 0 for a in after for b in before):
        return "better"
    if max(spread(before), spread(after)) > bound:
        return "unresolved"
    change = sign * (ma - mb) / mb if mb else 0.0
    if change > bound:
        return "worse"
    if -change > spread(before):
        return "better"
    return "no worse"


def fmt(v):
    return f"{v:.4g}"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    before, after = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({w for w, _ in before} | {w for w, _ in after})
    for w in workloads:
        b_runs, a_runs = before.get((w, 0), []), after.get((w, 0), [])
        print(f"\n== {w}: end to end ({len(b_runs)} before / {len(a_runs)} after runs)")
        print(f"{'metric':<20}{'before q1/med/q3':>30}{'after q1/med/q3':>30}  verdict (bound)")
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [r["metrics"][name]["value"] for r in b_runs if name in r["metrics"]]
            av = [r["metrics"][name]["value"] for r in a_runs if name in r["metrics"]]
            if not bv or not av:
                print(f"{name:<20} missing on one side")
                continue
            v = verdict(bv, av, m["bound"], m["better"] == "lower")
            print(f"{name:<20}{'/'.join(map(fmt, quartiles(bv))):>30}"
                  f"{'/'.join(map(fmt, quartiles(av))):>30}  {v} ({m['bound']})")
        bt, at = before.get((w, 1), []), after.get((w, 1), [])
        if not bt or not at:
            continue
        print(f"-- {w}: per layer, traced medians ({len(bt)} before / {len(at)} after runs)")
        for m in spec["per_layer"]:
            name = m["name"]
            bv = [r["metrics"][name]["value"] for r in bt if name in r["metrics"]]
            av = [r["metrics"][name]["value"] for r in at if name in r["metrics"]]
            if not bv or not av:
                continue
            mb, ma = statistics.median(bv), statistics.median(av)
            change = f"{(ma - mb) / abs(mb):+.1%}" if mb else "n/a"
            print(f"  {name:<32}{fmt(mb):>14}{fmt(ma):>14} {m['unit']:<6}{change:>9}")


if __name__ == "__main__":
    main()
