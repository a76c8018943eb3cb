#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds result lines as perfbench/run.py appends them to
.bench_out/results.jsonl (copy that file aside after each set). Runs are
paired in file order per workload and trace mode, so run the two sides
alternately (base, change, change, base, ...) and keep each side's order.

For every workload row and metric it prints each side's median and
quartiles, the share of pairs the change won (ties count for neither), and
a verdict for end-to-end metrics, against the bound in BENCHMARK.json:

  improved       at least 10 pairs, the change won at least 9/10 of them,
                 and the medians differ, in its favour, by more than the
                 base's own spread (the distance between its quartiles)
  worse          the change's median is worse than the base's by more than
                 the bound
  unresolved     a side's spread (quartile distance / median) exceeds the
                 bound, so "no change" cannot be told from noise -- unless
                 every change run beats every base run
  within bound   none of the above

Per-layer metrics (traced runs) get medians, quartiles and pairs only.
Where a set holds both traced and untraced runs of a workload, the tracing
overhead is printed: traced op_p50_ms (trace.op_p50_ms) over untraced.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10  # fewer pairs can never show a gain


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                key = (r["workload"], r["trace"])
                runs.setdefault(key, []).append(r["result"]["metrics"])
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def spread(v):
    q1, med, q3 = quartiles(v)
    return (q3 - q1) / med if med else float("inf")


def verdict(base, change, better, bound):
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    share = wins / len(pairs) if pairs else 0.0
    if bound is None:
        return share, "-"
    bq1, bmed, bq3 = quartiles(base)
    gain = sign * (statistics.median(change) - bmed)
    if len(pairs) >= MIN_PAIRS and share >= 0.9 and gain > bq3 - bq1:
        return share, "improved"
    if -gain > bound * abs(bmed):
        return share, "worse"
    all_better = all(sign * (c - b) > 0 for c in change for b in base)
    if (spread(base) > bound or spread(change) > bound) and not all_better:
        return share, "unresolved"
    return share, "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: (m["better"], m.get("bound"))
            for kind in ("end_to_end", "per_layer") for m in bench[kind]}
    base, change = load(a.base), load(a.change)
    fmt = "{:<14} {:<46} {:>28} {:>28} {:>8} {:>6}  {}"
    print(fmt.format("workload", "metric", "base median [q1, q3]",
                     "change median [q1, q3]", "delta", "won", "verdict"))
    for key in sorted(set(base) & set(change)):
        workload, trace = key
        names = [n for n in base[key][0] if n in change[key][0]]
        for n in names:
            b = [m[n]["value"] for m in base[key] if n in m]
            c = [m[n]["value"] for m in change[key] if n in m]
            better, bound = spec.get(n, ("lower", None))
            share, v = verdict(b, c, better, bound)
            bq, cq = quartiles(b), quartiles(c)
            delta = (cq[1] / bq[1] - 1) if bq[1] else float("nan")
            print(fmt.format(
                workload, n,
                f"{bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]",
                f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]",
                f"{delta:+.1%}", f"{share:.0%}", v))
    for name, runs in (("base", base), ("change", change)):
        for workload in sorted({w for w, _ in runs}):
            plain, traced = runs.get((workload, 0)), runs.get((workload, 1))
            if plain and traced:
                off = statistics.median(m["op_p50_ms"]["value"] for m in plain)
                on = statistics.median(m["trace.op_p50_ms"]["value"] for m in traced)
                print(f"tracing overhead, {name} {workload}: op_p50_ms "
                      f"{off:.4g} untraced, {on:.4g} traced ({on / off - 1:+.1%})")


if __name__ == "__main__":
    sys.exit(main())
