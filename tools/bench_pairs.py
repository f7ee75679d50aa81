#!/usr/bin/env python3
"""Run interleaved pairs of the benchmark from two checkouts and compare them.

    python3 tools/bench_pairs.py BASE_CHECKOUT CHANGE_CHECKOUT OUT_DIR \\
        --workload index_rw --seeds 7001-7010 [--seconds 20] [--trace 0]

For each seed, runs ``perfbench/run.py`` once in each checkout, one after the
other; the base runs first on even-numbered pairs and the change first on odd
ones, so neither side always inherits a warmer machine. After each run its
result file (``.bench_build/results/<workload>-<seed>-<trace>.json``) is copied
to ``OUT_DIR/base`` or ``OUT_DIR/change``; then ``perfbench/compare.py`` of the
change checkout compares the two directories and its report is printed and
written to ``OUT_DIR/compare.txt``.

``--workload`` takes a comma-separated list; each seed runs every workload.
A run that fails (non-zero exit, or no result file) stops the series with its
stderr, so a broken leg never reads as a slow one. Runs are sequential: the
benchmark measures one JVM on the whole machine.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace, dest):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    result = os.path.join(checkout, ".bench_build", "results", f"{workload}-{seed}-{trace}.json")
    if os.path.exists(result):
        os.remove(result)  # a stale file must not stand in for a failed run
    t = time.time()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0 or not os.path.exists(result):
        sys.exit(f"{checkout}: {' '.join(cmd)} exited {r.returncode}\n{r.stderr[-4000:]}")
    shutil.copy(result, dest)
    print(f"  {os.path.basename(dest)}: {workload} seed {seed} "
          f"in {time.time() - t:.0f} s", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("out")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 7001-7010 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    for name, checkout in sides.items():
        if not os.path.exists(os.path.join(checkout, "perfbench", "run.py")):
            sys.exit(f"{name} checkout {checkout} has no perfbench/run.py")
        os.makedirs(os.path.join(args.out, name), exist_ok=True)
    for i, seed in enumerate(seeds(args.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        print(f"pair {i + 1}: seed {seed}, {order[0]} first", flush=True)
        for workload in args.workload.split(","):
            for name in order:
                run(sides[name], workload, seed, args.seconds, args.trace,
                    os.path.join(args.out, name))
    report = subprocess.run(
        [sys.executable, os.path.join(sides["change"], "perfbench", "compare.py"),
         os.path.join(args.out, "base"), os.path.join(args.out, "change")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(args.out, "compare.txt"), "w") as f:
        f.write(report.stdout)
    print(report.stdout, end="")
    sys.exit(report.returncode)


if __name__ == "__main__":
    main()
