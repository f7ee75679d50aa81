"""Per-layer metrics and self times from a traced run's spans.

A span's self time is its duration minus the time its child spans cover
(children run one at a time on the client thread, so their durations add).
Spark work is charged to the innermost open span; a subtree's work is the
sum over its spans.

Loop figures (IndexStore, StreamingOps, Indexer, ODataFilter, Search) cover
the timed cycles only. ``<Pack>.build_ms`` and ``mix.build_jobs`` are medians
over cold passes, where IndexCache builds happen; ``<Pack>.plan_ms``,
``<Pack>.exec_ms`` and the other ``mix.*`` counters are medians over warm
passes. A pack with no key in the workload's mix reports 0.
"""
import statistics
from collections import defaultdict


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, valid_envelopes):
    spans = res["trace"]["spans"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e6  # noqa: E731

    def subtree(s):
        out = [s]
        for k in kids[s["id"]]:
            out += subtree(k)
        return out

    def total(s, field):
        return sum(x[field] for x in subtree(s))

    timed_root = next(s for s in spans if s["name"] == "bench.timed")
    timed = subtree(timed_root)
    named = lambda n, pool=timed: [s for s in pool if s["name"] == n]  # noqa: E731

    batches = named("StreamingOps.batch")
    runs = named("Indexer.runIncremental")
    pages = named("Search.page")
    m = {
        "GraftSession.session_start_ms": res["session_start_ms"],
        "IndexStore.bulk_load_s": res["bulk_load_s"],
        "IndexStore.records_written_per_event":
            sum(total(s, "out_records") for s in batches) / max(valid_envelopes, 1),
        "IndexStore.bytes_written_per_event":
            sum(total(s, "out_bytes") for s in batches) / max(valid_envelopes, 1),
        "IndexStore.read_ms": _med([dur(s) for s in named("IndexStore.read")]),
        "IndexStore.live_files": res["live_files"],
        "IndexStore.versions_retained": res["versions"],
        "StreamingOps.batch_ms": _med([dur(s) for s in batches]),
        "StreamingOps.jobs_per_batch": _mean([total(s, "jobs") for s in batches]),
        "Indexer.jobs_per_run": _mean([total(s, "jobs") for s in runs]),
        "Indexer.tasks_per_run": _mean([total(s, "tasks") for s in runs]),
        "Indexer.scan_bytes_per_run": _mean([total(s, "in_bytes") for s in runs]),
        "Indexer.shuffle_bytes_per_run": _mean([total(s, "shuffle_write") for s in runs]),
        "ODataFilter.compile_us": _med([dur(s) * 1e3 for s in named("ODataFilter.compile")]),
        "Search.page_ms": _med([dur(s) for s in pages]),
        "Search.pages_per_lookup": _mean([len(named("Search.page", subtree(s)))
                                          for s in named("request.lookup")]),
        "Search.plan_ms_per_page": _mean([s["plan_ms"] for s in pages]),
        "Search.jobs_per_page": _mean([s["jobs"] for s in pages]),
        "Search.files_read_per_page": _mean([s["files"] for s in pages]),
    }

    # query mix: one mix.<kind> span per key execution; a pass is a run of
    # len(keys) consecutive ones
    n_keys = len(res["packs"])
    packs = res["all_packs"]

    def passes(kind):
        q = named(f"mix.{kind}")
        return [q[i:i + n_keys] for i in range(0, len(q), n_keys)]

    cold, warm = passes("cold"), passes("warm")

    def pack_ms(ps, pack, phase):
        return _med([sum(dur(c) for s in p for c in kids[s["id"]] if c["name"] == f"{pack}.{phase}")
                     for p in ps])

    for pack in packs:
        m[f"{pack}.build_ms"] = pack_ms(cold, pack, "build")
        m[f"{pack}.plan_ms"] = pack_ms(warm, pack, "plan")
        m[f"{pack}.exec_ms"] = pack_ms(warm, pack, "exec")
    m["mix.build_jobs"] = _med([sum(c["jobs"] for s in p for c in kids[s["id"]]
                                    if c["name"].endswith(".build")) for p in cold])
    for name, field, scale in [("mix.jobs", "jobs", 1), ("mix.tasks", "tasks", 1),
                               ("mix.scan_bytes", "in_bytes", 1),
                               ("mix.shuffle_write_bytes", "shuffle_write", 1),
                               ("mix.spill_bytes", "spill", 1), ("mix.gc_ms", "gc_ms", 1),
                               ("mix.executor_cpu_s", "cpu_ns", 1e-9)]:
        m[name] = _med([sum(total(s, field) for s in p) * scale for p in warm])

    # self time per span name, over the whole run
    table = defaultdict(lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0})
    for s in spans:
        row = table[s["name"]]
        row["count"] += 1
        row["total_ms"] += dur(s)
        row["self_ms"] += dur(s) - sum(dur(k) for k in kids[s["id"]])
        row["jobs"] += s["jobs"]
    table = dict(sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]))
    table["(unattributed jobs)"] = {"count": 0, "total_ms": 0.0, "self_ms": 0.0,
                                   "jobs": res["trace"]["unattributed_jobs"]}
    return m, table


def render(table):
    lines = [f"{'span':<34}{'count':>7}{'total ms':>12}{'self ms':>12}{'jobs':>7}"]
    for name, r in table.items():
        lines.append(f"{name:<34}{r['count']:>7}{r['total_ms']:>12.1f}{r['self_ms']:>12.1f}{r['jobs']:>7}")
    return "\n".join(lines)
