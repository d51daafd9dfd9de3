#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

  python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--trace 0|1]

Each directory holds the report files run.py writes (--results), one per
run, named <workload>-s<seed>-t<trace>.json. Runs of the two sides are
paired by seed (in seed order when the sides used different seeds). Per
workload and metric it gives one verdict, the rule of the "Comparing two
commits" section of perfbench/README.md:

  improved    the change wins at least 9/10 of the pairs (ties count for
              neither side) and the medians differ by more than the
              parent's interquartile spread;
  regressed   the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  not regressed, but the parent's own spread (IQR / median)
              is wider than the bound, and not every change run beats
              every parent run;
  ok          otherwise.

Per-layer metrics (--trace 1) have no bound: only medians and wins are
shown. Exit code 1 if anything regressed.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d, trace):
    runs = {}
    for p in sorted(Path(d).glob(f"*-t{trace}.json")):
        r = json.loads(p.read_text())
        w, seed = r["info"]["workload"], r["info"]["seed"]
        runs.setdefault(w, {})[seed] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(p, c, better, bound):
    sign = 1 if better == "lower" else -1
    pairs = list(zip(p, c))
    wins = sum(1 for a, b in pairs if sign * (b - a) < 0)
    losses = sum(1 for a, b in pairs if sign * (b - a) > 0)
    pq1, pmed, pq3 = quartiles(p)
    _, cmed, _ = quartiles(c)
    spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    worse = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    if pairs and wins >= 0.9 * len(pairs) and abs(cmed - pmed) > (pq3 - pq1) and sign * (cmed - pmed) < 0:
        v = "improved"
    elif bound is None:
        v = "-"
    elif worse > bound:
        v = "regressed"
    elif spread > bound and not all(sign * (b - a) < 0 for a in p for b in c):
        v = "unresolved"
    else:
        v = "ok"
    return wins, losses, len(pairs), pmed, cmed, spread, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    specs = bench["per_layer" if a.trace else "end_to_end"]
    parent, change = load(a.parent, a.trace), load(a.change, a.trace)
    regressed = False
    print(f"{'workload':10} {'metric':34} {'parent':>12} {'change':>12} {'delta':>8} {'spread':>7} {'wins':>7}  verdict")
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        # runs pair by seed; sides run on different seeds pair in seed order
        ps, cs = (seeds, seeds) if seeds else (sorted(parent[w]), sorted(change[w]))
        for m in specs:
            name = m["name"]
            p = [parent[w][s]["metrics"][name]["value"] for s in ps if name in parent[w][s]["metrics"]]
            c = [change[w][s]["metrics"][name]["value"] for s in cs if name in change[w][s]["metrics"]]
            n = min(len(p), len(c))
            if n == 0:
                continue
            p, c = p[:n], c[:n]
            wins, losses, n, pm, cm, spread, v = verdict(p, c, m["better"], m.get("bound"))
            regressed |= v == "regressed"
            delta = (cm - pm) / abs(pm) if pm else float("nan")
            print(f"{w:10} {name:34} {pm:12.6g} {cm:12.6g} {delta:+8.1%} {spread:7.1%} {wins:3d}/{n:<3d}  {v}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
