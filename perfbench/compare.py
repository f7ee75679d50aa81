#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result files of ``run.py`` (``.bench_build/results/
<workload>-<seed>-<trace>.json``, copied aside per commit). Untraced results
are compared on the end-to-end metrics of BENCHMARK.json; traced results on
the per-layer metrics, reported without a verdict.

For each workload and metric it prints both sides' medians and quartiles, the
share of base/change pairs the change wins (ties count for neither), and a
verdict:

* improved - the change wins at least 9/10 of the pairs and the medians differ
  by more than the base's own spread (the distance between its quartiles);
* worse - the change's median is worse than the base's by more than the
  metric's bound;
* unresolved - the base's spread is wider than the bound, unless every change
  run beats every base run;
* within bound - otherwise.

Pairs are formed over every base run and every change run of the workload.
Run at least ten of each, alternating which commit runs first.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(f"{d}/*.json")):
        r = json.load(open(f))
        st = r["stamp"]
        vals = r["e2e"] if not st["trace"] else r["per_layer"]
        runs.setdefault((st["workload"], st["trace"]), []).append(vals)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(base, change, better, bound):
    lower = better == "lower"
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    wins = ties = 0
    for b in base:
        for c in change:
            if c == b:
                ties += 1
            elif (c < b) == lower:
                wins += 1
    pairs = len(base) * len(change)
    win = wins / pairs
    spread = b3 - b1
    gain = (bm - cm) if lower else (cm - bm)
    if bound is None:
        v = ""
    elif win >= 0.9 and gain > spread:
        v = "improved"
    elif -gain > bound * abs(bm):
        v = "worse"
    elif spread > bound * abs(bm) and not (wins == pairs):
        v = "unresolved"
    else:
        v = "within bound"
    return win, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<11}{'metric':<38}{'base q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'win':>6}  verdict")
    for key in sorted(base.keys() & change.keys()):
        workload, trace = key
        for name in sorted(base[key][0]):
            m = spec.get(name)
            if m is None:
                continue
            b = [r[name] for r in base[key] if name in r]
            c = [r[name] for r in change[key] if name in r]
            if not b or not c:
                continue
            win, v = verdict(b, c, m["better"], None if trace else m.get("bound"))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{workload:<11}{name:<38}{fmt(quartiles(b)):>30}{fmt(quartiles(c)):>30}"
                  f"{win:>6.2f}  {v}")


if __name__ == "__main__":
    main()
