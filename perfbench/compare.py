#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

Usage: python3 perfbench/compare.py <parent_dir> <change_dir>

A result set is a directory of the per-run files run.py writes to
perfbench/out/ (<workload>-s<seed>-t<trace>.json); copy out/ aside
between the two commits. For each workload:

  - every end-to-end metric of the untraced runs (--trace 0): each
    side's median and quartiles, its spread (quartile distance over
    median), and the verdict of the paired-run rule: runs pair by seed;
    a gain needs the change to win at least nine tenths of the pairs
    (ties count for neither) and the medians to differ by more than the
    parent's own quartile distance; a regression is a median worse by
    more than the metric's bound in BENCHMARK.json; a spread wider than
    the bound leaves the metric unresolved unless every run of the
    change beats every run of the parent;
  - every per-layer metric of the traced runs (--trace 1): both
    medians, and for the exact counts (exec.jobs, table.commits,
    planner.expanded, catalyst.executions, fs.write_ops) whether they
    repeat exactly between same-seed runs of the two sets. Run it on two
    traced result sets of the same commit for the exact-count self-check.
"""
import glob
import json
import os
import statistics
import sys

EXACT = ["exec.jobs", "table.commits", "planner.expanded",
         "catalyst.executions", "fs.write_ops"]
# printed-only metrics where more is better (all other timings: less)
HIGHER = {"ingest_docs_per_s"}


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*-t[01].json")):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def rel(x, m):
    return x / m if m else 0.0


def verdict(a, b, better, bound):
    """The paired-run rule over {seed: value} maps a (parent), b (change);
    `bound` is None for a metric BENCHMARK.json does not gate.
    """
    seeds = sorted(set(a) & set(b))
    if not seeds:
        return "no paired runs", 0, 0
    sign = -1 if better == "lower" else 1
    wins = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
    losses = sum(1 for s in seeds if sign * (b[s] - a[s]) < 0)
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    ma, mb = qa[1], qb[1]
    spread_a = qa[2] - qa[0]
    worse = rel(sign * (ma - mb), ma)  # > 0 when the change is worse
    if wins >= 0.9 * len(seeds) and abs(mb - ma) > spread_a and sign * (mb - ma) > 0:
        v = "gain"
    elif bound is None:
        v = "no gain (not gated)"
    elif worse > bound:
        v = "regression"
    elif rel(spread_a, ma) > bound and not (
            min(sign * x for x in b.values()) > max(sign * x for x in a.values())):
        v = "unresolved (spread wider than bound)"
    else:
        v = "no regression"
    return v, wins, losses


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    layer_names = sorted(m["name"] for m in spec["per_layer"])
    A, B = load(sys.argv[1]), load(sys.argv[2])
    for (w, t) in sorted(set(A) & set(B)):
        a, b = A[(w, t)], B[(w, t)]
        print(f"== {w} ({'traced' if t else 'untraced'}): "
              f"{len(a)} parent runs, {len(b)} change runs")
        if not t:
            names = sorted(set().union(*[r["metrics_all"] for r in a.values()]))
            for n in names:
                va = {s: r["metrics_all"][n]["value"] for s, r in a.items()
                      if r["metrics_all"].get(n, {}).get("value") is not None}
                vb = {s: r["metrics_all"][n]["value"] for s, r in b.items()
                      if r["metrics_all"].get(n, {}).get("value") is not None}
                if not va or not vb:
                    continue
                qa, qb = quartiles(list(va.values())), quartiles(list(vb.values()))
                better, bound = bounds.get(
                    n, ("higher" if n in HIGHER else "lower", None))
                v, wins, losses = verdict(va, vb, better, bound)
                print(f"  {n:18s} parent {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                      f"change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] "
                      f"spread {rel(qa[2] - qa[0], qa[1]):.3f}/"
                      f"{rel(qb[2] - qb[0], qb[1]):.3f} "
                      f"wins {wins} losses {losses}: {v}")
        else:
            for n in layer_names:
                va = [r["per_layer"][n] for r in a.values()]
                vb = [r["per_layer"][n] for r in b.values()]
                line = (f"  {n:26s} parent {statistics.median(va):.6g} "
                        f"change {statistics.median(vb):.6g}")
                if n in EXACT:
                    seeds = sorted(set(a) & set(b))
                    same = all(a[s]["per_layer"][n] == b[s]["per_layer"][n]
                               for s in seeds)
                    line += (f"  exact count: {'repeats' if same else 'DOES NOT REPEAT'}"
                             f" over {len(seeds)} seed(s)")
                print(line)


if __name__ == "__main__":
    main()
