#!/usr/bin/env python3
"""Compare two sets of lifecycle-benchmark runs, per workload and metric.

    python3 lifecycle_bench/compare.py A B [--field metrics|end_to_end]

A and B are run-record files, directories of them or glob patterns (quote
them); run.py writes one record per run under .bench_build/lifecycle/runs/.
For each workload and metric both sides get n, median, first and third
quartile (statistics.quantiles, n=4) and the quartile spread as a share of
the median; the last column is B's median over A's, minus one.

`--field end_to_end` compares the end-to-end figures that every record
carries. Comparing untraced runs (A) with traced runs (B) that way gives
the tracing overhead.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(spec):
    """Run records named by a file, a directory or a glob pattern."""
    if os.path.isdir(spec):
        paths = glob.glob(os.path.join(spec, "*.json"))
    else:
        paths = glob.glob(spec)
    out = []
    for p in sorted(paths):
        try:
            with open(p) as f:
                out.append(json.load(f))
        except (OSError, ValueError):
            print(f"skipping unreadable record {p}", file=sys.stderr)
    return out


def values(records, field):
    """{(workload, metric): ([values], unit)} over the records."""
    acc = {}
    for r in records:
        for name, m in (r.get(field) or {}).items():
            vals, _ = acc.setdefault((r["workload"], name), ([], m["unit"]))
            vals.append(m["value"])
    return acc


def summary(vals):
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    spread = (q3 - q1) / med if med else float("nan")
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3, "spread": spread}


def compare(a_records, b_records, field):
    a, b = values(a_records, field), values(b_records, field)
    rows = []
    for key in sorted(set(a) | set(b)):
        sa = summary(a[key][0]) if key in a else None
        sb = summary(b[key][0]) if key in b else None
        change = (sb["median"] / sa["median"] - 1) if sa and sb and sa["median"] else None
        rows.append((key, (a.get(key) or b.get(key))[1], sa, sb, change))
    return rows


def fmt(s):
    if not s:
        return f"{'-':>4} {'-':>12} {'-':>12} {'-':>12} {'-':>7}"
    return (f"{s['n']:>4} {s['median']:>12.5g} {s['q1']:>12.5g} {s['q3']:>12.5g} "
            f"{s['spread']:>7.3f}")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--field", default="metrics", choices=("metrics", "end_to_end"))
    args = p.parse_args()
    a, b = load(args.a), load(args.b)
    if not a or not b:
        print("no run records on one side", file=sys.stderr)
        return 2
    head = f"{'n':>4} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
    print(f"{'workload':<14} {'metric':<34} {'unit':<7} | A {head} | B {head} | B/A-1")
    for (w, m), unit, sa, sb, change in compare(a, b, args.field):
        ch = f"{change:+.3f}" if change is not None else "-"
        print(f"{w:<14} {m:<34} {unit:<7} | A {fmt(sa)} | B {fmt(sb)} | {ch}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
