#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload index_rw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles ``src/main/scala``
and ``perfbench/scala`` with the Scala compiler that ships in Spark's jars
and generates the lake corpora; later runs reuse both from ``.bench_build``.

Each run starts one JVM (``local[nproc]``, one client thread), which sets up,
measures for ``--seconds``, and dumps every answer; this script then checks
the answers (``check.py``), prints the run's stamp and detail to stderr and,
as the last stdout line, ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a run with spans recorded (``layers.py``). A wrong answer or a
failed operation makes the exit code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
CORPUS_SEED = 20240101
SF = 0.1           # the measured corpus and the lake the indexer reads
WARM_SF = 0.001    # the warm-up corpus, whose full answers are oracle-checked
HEAP = "4g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first Spark install
    whose bin directory is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = sorted(glob.glob(f"{home}/jars/*.jar")) if home else []
        if jars:
            return jars
    sys.exit("no Spark jars found: set SPARK_HOME")


def build(root, build_dir):
    """Compile the program and the benchmark's JVM side; skip when up to date."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{HERE}/scala/**/*.scala", recursive=True))
    if not srcs:
        sys.exit("no program sources under src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for f in srcs + bench:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    classes = f"{build_dir}/classes"
    if os.path.exists(f"{classes}/.stamp") and open(f"{classes}/.stamp").read() == stamp:
        return classes, stamp
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library",
                                                                   "scala-reflect"))]
    tmp = f"{classes}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"[perfbench] compiling {len(srcs)} program and {len(bench)} benchmark sources")
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
                        "-classpath", ":".join(jars), "-d", tmp] + srcs + bench,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        sys.exit("compilation failed")
    with open(f"{tmp}/.stamp", "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"[perfbench] compiled in {time.time() - t:.1f}s")
    return classes, stamp


def corpus(build_dir, sf):
    """The lake corpus at scale ``sf`` (fixed corpus seed), generated once."""
    d = f"{build_dir}/data/corpus-sf{sf}-{CORPUS_SEED}"
    if not os.path.exists(f"{d}/.done"):
        shutil.rmtree(d, ignore_errors=True)
        t = time.time()
        gen.write_corpus(d + ".tmp", sf, CORPUS_SEED)
        os.rename(d + ".tmp", d)
        open(f"{d}/.done", "w").close()
        log(f"[perfbench] generated corpus sf{sf} in {time.time() - t:.1f}s")
    return d


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def pct(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()
    wl = SPEC["workloads"][args.workload]
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    load0 = loadavg()
    t_start = time.time()

    classes, stamp = build(root, build_dir)
    mix_corpus = corpus(build_dir, SF)
    warm_corpus = corpus(build_dir, WARM_SF)

    work = f"{build_dir}/runs/{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = f"{work}/inputs"
    rwp = wl["rw"]
    n_warm = wl["warm_cycles"]
    rw = gen.RwInputs(args.seed, rwp["keys"], rwp["batch"], n_warm + wl["cycles"], rwp["lookups"])
    rw.write(inputs)
    shutil.copy(f"{mix_corpus}/documents.parquet", f"{inputs}/documents.parquet")
    data0 = gen.write_data_population(rw, f"{inputs}/documents.parquet", f"{inputs}/datapop.parquet")
    keys = list(wl["mix_keys"])
    random.Random(args.seed).shuffle(keys)

    props = {"work": work, "rw_inputs": inputs, "corpus": mix_corpus, "warm_corpus": warm_corpus,
             "keys": ",".join(keys), "seconds": args.seconds, "warm_cycles": n_warm,
             "trace": args.trace}
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/run.properties", "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    # no perf-data file: the JVM would write it under the system temp
    # directory, outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{':'.join(spark_jars())}", "graft.perfbench.Main",
              f"{work}/run.properties"])
    t_jvm = time.time()
    with open(f"{work}/jvm.log", "w") as jl:
        r = subprocess.run(cmd, stdout=jl, stderr=subprocess.STDOUT, cwd=work, timeout=170)
    if r.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        log(open(f"{work}/jvm.log").read()[-4000:])
        sys.exit(f"benchmark JVM failed with exit code {r.returncode}")
    with open(f"{work}/result.json") as f:
        res = json.load(f)
    t_check = time.time()

    # ---- correctness ----
    doc_chars = dict(enumerate(pq.read_table(f"{inputs}/documents.parquet", columns=["n_chars"])
                               .column("n_chars").to_pylist()))
    rows_seen = {}
    for p in res["passes"]:
        for k, v in p["keys"].items():
            if v is not None:
                rows_seen.setdefault(k, []).append(v[3])
    bad = [("run", f) for f in res["failures"]]
    bad += check.check_rw(rw, res, work, doc_chars, data0)
    bad += check.check_mix(warm_corpus, f"{work}/answers/mix", mix_corpus, res["oracles"], rows_seen)

    cycles = int(res["cycles"])
    timed_looks = [x for x in res["lookups"] if x["cycle"] >= n_warm]
    batch_s, run_s = res["batch_s"][n_warm:], res["run_s"][n_warm:]
    attempted = 2 * cycles + sum(len(rw.cycle_lookups[i]) for i in range(cycles)) \
        + len(res["passes"]) * len(keys)
    failed = min(len(bad), attempted)
    cold = [sum(sum(v[:3]) for v in p["keys"].values() if v) for p in res["passes"] if p["kind"] == "cold"]
    warm = [sum(sum(v[:3]) for v in p["keys"].values() if v) for p in res["passes"] if p["kind"] == "warm"]
    events = sum(rw.valid_envelopes(i) for i in range(n_warm, cycles))
    look_ms = [x["ms"] for x in timed_looks]
    # Every workload reports every metric; `samples` (stamped on the run)
    # gives the sample count behind each. failed/attempted is the run's
    # failed_frac: it is stamped, not a metric, since an accepted run has 0.
    e2e = {
        # JVM start to session ready, bulk load, data-index load, stream
        # start, the untimed warm cycles and the sf0.001 warm-up of every
        # key; input generation excluded
        "setup_s": res["setup_s"],
        # envelope file landed until its micro-batch is committed
        "path_batch_p50_s": statistics.median(batch_s),
        # well-formed envelopes applied per second of micro-batch time
        "path_events_per_s": events / sum(batch_s),
        # one runIncremental partition run up to committed snapshot and watermark
        "indexer_run_p50_s": statistics.median(run_s),
        # one lookup: compile, read and every page (nearest-rank percentiles)
        "lookup_p50_ms": pct(look_ms, 0.5),
        "lookup_p90_ms": pct(look_ms, 0.9),
        # live path-index snapshot bytes per live key, at the end
        "store_bytes_per_key": res["store_bytes"] / res["live_keys"],
        # wall time of a pass over the mix keys: medians of the cold passes
        # (IndexCache emptied first) and of the warm passes after them
        "mix_cold_s": statistics.median(cold),
        "mix_warm_s": statistics.median(warm),
        # heap used after forced GCs at the end of the timed phase
        "live_heap_mb": res["live_heap_mb"],
    }
    samples = {"setup_s": 1, "path_batch_p50_s": len(batch_s),
               "path_events_per_s": len(batch_s), "indexer_run_p50_s": len(run_s),
               "lookup_p50_ms": len(look_ms), "lookup_p90_ms": len(look_ms),
               "store_bytes_per_key": 1, "mix_cold_s": len(cold), "mix_warm_s": len(warm),
               "live_heap_mb": 1}
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    stampd = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": os.cpu_count(), "loadavg_start": load0,
              "loadavg_end": loadavg(), "heap": HEAP, "max_heap_mb": res["max_heap_mb"],
              "spark_version": res["spark_version"], "commit": commit(root), "source_sha256": stamp,
              "mix_keys_in_order": keys, "timed_cycles": cycles - n_warm,
              "failed_frac": failed / attempted}
    detail = {"stamp": stampd, "e2e": e2e, "samples": samples, "problems": bad[:50],
              "phases_s": {"py_setup": t_jvm - t_start, "jvm": t_check - t_jvm,
                           "check": time.time() - t_check},
              "raw": {k: v for k, v in res.items() if k != "trace"}}
    if args.trace:
        per_layer, table = layers.per_layer(res, events)
        detail["per_layer"] = per_layer
        detail["self_time"] = table
        base = f"{build_dir}/results/{args.workload}-{args.seed}-0.json"
        if os.path.exists(base):
            untraced = json.load(open(base))["e2e"]
            detail["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        log(layers.render(table))
        metrics = {m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    os.makedirs(f"{build_dir}/results", exist_ok=True)
    with open(f"{build_dir}/results/{args.workload}-{args.seed}-{args.trace}.json", "w") as f:
        json.dump(detail, f, indent=1)
    log(json.dumps({"stamp": stampd, "samples": samples}))
    for op, why in bad[:20]:
        log(f"[perfbench] WRONG {op}: {why}")
    if not bad:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
