#!/usr/bin/env python3
"""Compare benchmark results from two commits measured on the same host.

    python3 graftbench/ab.py PARENT CHANGE

PARENT and CHANGE are each a history file written by run.py
(graftbench/.work/history.jsonl) or a directory holding one. Run the two
sides alternately (parent, change, change, parent, ...) with the same
--seconds, so the i-th run of a workload on each side forms a pair.
Metric names, bounds and directions come from BENCHMARK.json at the root
of the checkout this script lives in.

Runs are paired by position before anything is filtered out. A pair in
which either run failed (wrong result, error or contention) is left out
of the timing comparison on both sides, so the pairs that remain stay
aligned. For every workload it prints each side's failed runs and failed
operations, and for every end-to-end metric each side's median and
quartiles, the share of pairs each side won, and a verdict:

  failing     the change has more failed runs or failed operations than
              the parent; its timings do not count as a gain
  gain        the change wins >= 90% of pairs and the medians differ by
              more than the parent's quartile distance
  regression  the change's median is worse by more than the metric's bound
  unresolved  a side's spread (quartile distance / median) exceeds the bound,
              unless every change run beats every parent run
  same        none of the above

For traced runs (--trace 1) it prints the per-layer medians and deltas.
"""
import argparse
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "history.jsonl")
    runs = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                runs.append(json.loads(line))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """1 if b is better than a, -1 if worse, 0 if tied."""
    if a == b:
        return 0
    return 1 if (b < a) == (direction == "lower") else -1


def verdict(pa, pb, direction, bound):
    """Section 8 of the choosing-metrics method applied to one metric's
    paired values (pa[i] and pb[i] form a pair)."""
    qa, qb = quartiles(pa), quartiles(pb)
    med_a, med_b = qa[1], qb[1]
    pairs = list(zip(pa, pb))
    wins_b = sum(1 for a, b in pairs if better(a, b, direction) > 0)
    wins_a = sum(1 for a, b in pairs if better(a, b, direction) < 0)
    worse = (med_b - med_a) if direction == "lower" else (med_a - med_b)
    spread = max((qa[2] - qa[0]) / med_a if med_a else 0.0,
                 (qb[2] - qb[0]) / med_b if med_b else 0.0)
    every_better = all(better(a, b, direction) > 0 for a in pa for b in pb)
    if pairs and wins_b >= 0.9 * len(pairs) and -worse > (qa[2] - qa[0]):
        v = "gain"
    elif med_a and worse > bound * abs(med_a):
        v = "regression"
    elif spread > bound and not every_better:
        v = "unresolved"
    else:
        v = "same"
    return {"parent": qa, "change": qb, "pairs": len(pairs),
            "won_parent": wins_a / len(pairs) if pairs else 0.0,
            "won_change": wins_b / len(pairs) if pairs else 0.0,
            "spread": spread, "verdict": v}


def failures(runs):
    """(failed runs, failed operations, attempted operations)."""
    return (sum(1 for r in runs if not r["result"]["correct"]),
            sum(r["result"]["failed"] for r in runs),
            sum(r["result"]["attempted"] for r in runs))


def paired(ra, rb):
    """Pairs the i-th run of each side, then keeps the pairs in which both
    runs were correct."""
    return [(a, b) for a, b in zip(ra, rb) if a["result"]["correct"] and b["result"]["correct"]]


def compare(ra, rb, metric):
    """The verdict for one metric over two sides' runs of one workload."""
    pairs = [(a["result"]["metrics"][metric["name"]]["value"], b["result"]["metrics"][metric["name"]]["value"])
             for a, b in paired(ra, rb)
             if metric["name"] in a["result"]["metrics"] and metric["name"] in b["result"]["metrics"]]
    if not pairs:
        return None
    r = verdict([a for a, _ in pairs], [b for _, b in pairs], metric["better"], metric["bound"])
    fa, fb = failures(ra), failures(rb)
    if fb[0] > fa[0] or fb[1] > fa[1]:
        r["verdict"] = "failing"
    return r


def by_workload(runs, trace):
    out = {}
    for r in runs:
        s = r["stamp"]
        if bool(s["trace"]) == trace:
            out.setdefault(s["workload"], []).append(r)
    return out


def describe(runs):
    digests = sorted({r["stamp"].get("source_digest") or "?" for r in runs})
    cores = sorted({r["stamp"].get("cores") for r in runs})
    return digests, cores


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    pa_all, pb_all = load(a.parent), load(a.change)
    for name, runs in (("parent", pa_all), ("change", pb_all)):
        digests, cores = describe(runs)
        print(f"{name}: {len(runs)} runs, sources {', '.join(d[:12] for d in digests)}, cores {cores}")
        if len(digests) > 1:
            print(f"  warning: {name} mixes runs of {len(digests)} source trees")
    if describe(pa_all)[1] != describe(pb_all)[1]:
        print("  warning: the sides ran on different core counts; compare same-host runs only")

    pa, pb = by_workload(pa_all, False), by_workload(pb_all, False)
    print("\nend-to-end (median [q1, q3]; pairs won; verdict)")
    for w in sorted(set(pa) & set(pb)):
        print(f"\n{w}")
        for name, runs in (("parent", pa[w]), ("change", pb[w])):
            fr, fo, ao = failures(runs)
            print(f"  {name}: {fr}/{len(runs)} runs failed, {fo}/{ao} operations failed")
        for m in spec["end_to_end"]:
            r = compare(pa[w], pb[w], m)
            if r is None:
                continue
            fa, fb = r["parent"], r["change"]
            print(f"  {m['name']:14s} parent {fa[1]:.4g} [{fa[0]:.4g}, {fa[2]:.4g}]  "
                  f"change {fb[1]:.4g} [{fb[0]:.4g}, {fb[2]:.4g}] {m['unit']}  "
                  f"won {r['won_parent']:.0%}/{r['won_change']:.0%} of {r['pairs']}  "
                  f"bound {m['bound']:.0%}  -> {r['verdict']}")

    ta, tb = by_workload(pa_all, True), by_workload(pb_all, True)
    if set(ta) & set(tb):
        print("\nper-layer (traced runs; median parent -> change)")
    for w in sorted(set(ta) & set(tb)):
        print(f"\n{w}")
        pairs = paired(ta[w], tb[w])
        for m in spec["per_layer"]:
            xs = [(a["result"]["metrics"][m["name"]]["value"], b["result"]["metrics"][m["name"]]["value"])
                  for a, b in pairs
                  if m["name"] in a["result"]["metrics"] and m["name"] in b["result"]["metrics"]]
            if not xs:
                continue
            ma, mb = statistics.median(x for x, _ in xs), statistics.median(y for _, y in xs)
            if ma == 0 and mb == 0:
                continue
            rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"  {m['name']:32s} {ma:>14.6g} -> {mb:<14.6g} {m['unit']:8s} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
