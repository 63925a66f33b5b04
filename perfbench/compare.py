#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

Usage:
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl [--per-layer]
    python3 perfbench/compare.py RUNS.jsonl            # one set: spread only

Each file holds the records that `perfbench/run.py --save FILE` appended.
For every workload and metric it prints each side's median and quartiles
(Python's statistics.quantiles, n=4), the spread (quartile distance over
median), the metric's bound from BENCHMARK.json, and a verdict for NEW
against BASE:
  worse       the median got worse by more than the bound
  better      the median improved and the two quartile ranges do not overlap
  unresolved  anything else
With one file it rates each metric's spread against its bound instead:
steady (within a third of it), in bound, or NOT steady. With --per-layer it
compares the traced runs' per-layer metrics, which have no bound and get no
verdict.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_runs(path, per_layer):
    """{workload: {metric: [values]}} over the runs of one kind in a file."""
    out = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            if r["trace"] != per_layer:
                continue
            ms = r["per_layer" if per_layer else "end_to_end"]
            for name, m in ms.items():
                if m["value"] is not None:
                    out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def summary(values):
    """(median, q1, q3, spread) of a sample; quartiles need two values."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(base, new, better, bound):
    bm, bq1, bq3, _ = summary(base)
    nm, nq1, nq3, _ = summary(new)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (nm - bm) / bm if bm else 0.0
    if worse_by > bound:
        return "worse"
    apart = nq3 < bq1 if better == "lower" else nq1 > bq3
    return "better" if worse_by < 0 and apart else "unresolved"


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--per-layer", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["per_layer" if a.per_layer else "end_to_end"]}
    base = load_runs(a.base, a.per_layer)
    new = load_runs(a.new, a.per_layer) if a.new else {}
    if not base:
        sys.exit(f"no {'traced' if a.per_layer else 'untraced'} runs in {a.base}")
    cols = ["workload", "metric", "unit", "n", "median", "q1", "q3", "spread"]
    if a.new:
        cols += ["n'", "median'", "q1'", "q3'", "spread'"]
    cols += ["bound", "verdict"]
    rows = []
    for w in sorted(base):
        for name, m in metrics.items():
            b = base[w].get(name)
            if not b:
                continue
            bm, bq1, bq3, bs = summary(b)
            row = [w, name, m["unit"], str(len(b)), fmt(bm), fmt(bq1), fmt(bq3), f"{bs:.3f}"]
            n = new.get(w, {}).get(name)
            if a.new:
                if n:
                    nm, nq1, nq3, ns = summary(n)
                    row += [str(len(n)), fmt(nm), fmt(nq1), fmt(nq3), f"{ns:.3f}"]
                else:
                    row += ["0", "-", "-", "-", "-"]
            bound = m.get("bound")
            row.append("-" if bound is None else str(bound))
            if a.new and n and bound is not None:
                row.append(verdict(b, n, m["better"], bound))
            elif bound is not None:
                row.append("steady" if bs <= bound / 3 else "in bound" if bs <= bound else "NOT steady")
            else:
                row.append("-")
            rows.append(row)
    widths = [max(len(r[i]) for r in rows + [cols]) for i in range(len(cols))]
    for r in [cols] + rows:
        print("  ".join(v.ljust(wd) for v, wd in zip(r, widths)))


if __name__ == "__main__":
    main()
