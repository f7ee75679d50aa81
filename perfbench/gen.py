"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_corpus`` writes the ten lake tables (region .. embeddings) that the
  query packs read, at a scale factor, from a corpus seed. A run must work
  from a bare checkout, which holds no lake data, so the corpus is generated
  here rather than read from the test tables of TESTDATA.md. It copies their
  shapes: the same tables, column names and parquet types (``events.ts`` and
  the order/ship dates are timezone-less microsecond timestamps there too),
  and the same row count of every table at sf0.001 and sf0.1 (at sf0.1:
  600,000 lineitem, 150,000 orders, 100,000 events, 5,000 documents, 2,000
  embeddings). Values are a TPC-H-like star schema, a month of ``events``,
  ``documents`` over a small word vocabulary and unit-norm ``embeddings``.
* ``RwInputs`` builds everything the index read/write loop feeds the program:
  the bulk-load population of the path index, one EventGrid envelope file and
  one change-log file per cycle, and the lookups of each cycle. It also keeps
  the generator's own model of every envelope it emitted, which ``check.py``
  replays to get the expected answers.

Everything is a pure function of its seed and parameters: the same seed gives
byte-identical files.
"""
import base64
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the batch sort value hash filter big data dup part column order "
         "scan a slow agg key window table merge vector join spark line small fast group "
         "customer").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EPOCH = dt.datetime(1970, 1, 1)


def _write(table, path):
    # fixed writer options: the same table always gives the same bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 30)


def _ts_us(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def write_corpus(out_dir, sf, seed):
    """Write the ten lake tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base, floor=1: max(int(round(base * sf)), floor)
    n_cust, n_supp, n_part = n(150_000, 150), n(10_000, 10), n(200_000, 200)
    n_ord, n_line, n_ev = n(1_500_000, 1500), n(6_000_000, 6000), n(1_000_000, 1000)
    n_doc, n_emb = n(50_000, 500), n(20_000, 500)
    n_user = n(15_000, 150)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}), f"{out_dir}/supplier.parquet")

    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}), f"{out_dir}/part.parquet")

    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    ship = odate[lok] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(ship)}), f"{out_dir}/lineitem.parquet")

    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us(ts),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    # documents: ~0.2% exact copies and ~2% one-word edits of earlier docs,
    # so the dedup keys have real duplicates to find
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.022:
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(ws))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = np.array(["en", "en", "de", "fr", "es", "zh", "en"])
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32)}), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# index read/write loop

def url_encode(path):
    for a, b in (("%", "%25"), ("/", "%2f"), (" ", "+"), (":", "%3a")):
        path = path.replace(a, b)
    return path


def path_key(fs, path):
    """The engine's document key: base64 of ``<fs>%2f<url-encoded path>``."""
    return base64.b64encode(f"{fs}%2f{url_encode(path)}".encode()).decode()


def iso(us):
    """Epoch microseconds as the envelopes' fixed-width ISO-8601 string."""
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


T_POP = 1_706_745_600_000_000      # 2024-02-01T00:00:00Z, start of the bulk history
T0 = 1_709_251_200_000_000         # 2024-03-01T00:00:00Z, first cycle
CYCLE_US = 3_600_000_000           # each cycle's envelopes fall in its own hour
N_HOT = 2000                       # fs0..3 x file_0..499: the keys the change-log can name
MALFORMED = 3                      # malformed envelopes in every batch, to be dead-lettered


class RwInputs:
    """Inputs and model of the index read/write loop for one seed.

    Hot keys are the 2000 paths ``data/part_{b % 50}/file_{b}.json`` in
    ``fs0..fs3``: the change-log derives paths from ``event_id % 500`` and
    filesystems from ``user_id % 4``, so only these keys can have matching
    change-log rows. Envelopes touch hot keys only; the rest of the
    population is cold and only read.
    """

    def __init__(self, seed, n_keys, batch, cycles, lookups):
        rng = np.random.default_rng([seed, 7])
        self.hot = [(f"fs{c}", f"data/part_{b % 50}/file_{b}.json", c, b)
                    for c in range(4) for b in range(500)]
        per = max((n_keys - N_HOT) // 200, 1)
        cold = [(f"fs{c}", f"data/part_{p}/blob_{j:05d}.bin")
                for c in range(4) for p in range(50) for j in range(per)]
        paths = [h[:2] for h in self.hot] + cold
        keys = [path_key(fs, p) for fs, p in paths]
        self.info = {k: (fs, url_encode(p)) for k, (fs, p) in zip(keys, paths)}  # key -> (fs, enc)
        live = np.concatenate([rng.random(len(self.hot)) < 0.7, np.ones(len(cold), bool)])
        times = rng.integers(T_POP, T0, len(keys))
        lens = rng.integers(100, 1_000_000, len(keys))
        # (key, fs, pathUrlEncoded, eTag, contentLength, eventTime us)
        self.population = [(k, *self.info[k], f"0x{i + 1:016X}", int(ln), int(t))
                           for i, (k, on, t, ln) in enumerate(zip(keys, live, times, lens)) if on]
        self.seq = len(keys)

        # per cycle: envelopes (event_id, json, model tuple or None for a
        # malformed one), change-log rows, lookups (kind, filter, args)
        self.cycle_envs, self.cycle_events, self.cycle_lookups = [], [], []
        very_hot = rng.choice(N_HOT, 200, replace=False)
        never = [path_key(f"fs{c}", f"data/part_{p}/gone_{j}.tmp")
                 for c, p, j in zip(rng.integers(0, 4, 64), rng.integers(0, 50, 64), range(64))]
        # every cycle asks the same mix of lookup kinds, in a seeded order:
        # half since-listings, a quarter each prefix listings and point
        # lookups, so near-free answers (points, empty listings) stay under
        # half and the median lookup is a one-page listing, not the boundary
        # between the two
        n_since, n_prefix = round(lookups * 0.5), round(lookups * 0.25)
        kinds = ["since"] * n_since + ["prefix"] * n_prefix + ["point"] * (lookups - n_since - n_prefix)
        for i in range(cycles):
            envs, evs = [], []
            picks = np.where(rng.random(batch) < 0.5, very_hot[rng.integers(0, 200, batch)],
                             rng.integers(0, N_HOT, batch))
            base = T0 + i * CYCLE_US
            for h in picks:
                fs, path, c, b = self.hot[h]
                self.seq += 1
                eid = 500 * self.seq + b
                t = base + int(rng.integers(0, CYCLE_US))
                delete = rng.random() < 0.15
                etag = f"0x{self.seq:016X}"
                ln = int(rng.integers(100, 1_000_000))
                envs.append((eid, _envelope(fs, path, delete, iso(t), etag, ln, self.seq),
                             (path_key(fs, path), delete, t, eid, etag, ln)))
                evs.append((eid, t, 4 * int(rng.integers(0, 375)) + c,
                            "error" if delete else EVENT_TYPES[int(rng.choice([0, 1, 3, 4]))],
                            float(np.round(rng.exponential(50.0), 2)), int(rng.integers(0, 100))))
            for m in range(MALFORMED):
                self.seq += 1
                bad = ("{not an envelope" if m % 2 == 0 else
                       json.dumps({"subject": "/blobServices/default/containers/fs0/blobs/x",
                                   "eventType": "Microsoft.Storage.BlobCreated",
                                   "eventTime": iso(base), "data": {"eTag": "0x0"}}))
                envs.insert(int(rng.integers(0, len(envs) + 1)), (500 * self.seq + 499, bad, None))
            self.cycle_envs.append(envs)
            self.cycle_events.append(evs)
            lk = []
            # "since" thresholds are evenly spaced from before the history to
            # after the cycle, so every cycle's listings range from several
            # pages to empty, with the same page counts for every seed (random
            # thresholds made the top lookup percentiles depend on the seed)
            lo, hi = T_POP - 86_400_000_000, base + CYCLE_US + 86_400_000_000
            n = kinds.count("since")
            steps = iter(range(n))
            for kind in rng.permutation(kinds):
                fs = f"fs{int(rng.integers(0, 4))}"
                if kind == "since":
                    t = lo + next(steps) * (hi - lo) // max(n - 1, 1)
                    lk.append(("since", f"filesystem eq '{fs}' and eventTime ge {iso(t)}", (fs, t)))
                elif kind == "prefix":
                    p = int(rng.integers(0, 10))
                    lk.append(("prefix", f"filesystem eq '{fs}' and "
                                         f"search.ismatch('data%2fpart_{p}*','pathUrlEncoded')", (fs, p)))
                else:
                    q = rng.random()
                    if q < 0.2:
                        k = never[int(rng.integers(0, len(never)))]
                    elif q < 0.6:
                        k = path_key(*self.hot[int(rng.integers(0, N_HOT))][:2])
                    else:
                        k = keys[int(rng.integers(0, len(keys)))]
                    lk.append(("point", f"key eq '{k}'", (k,)))
            self.cycle_lookups.append(lk)

    def key_of(self, c, b):
        """Key of hot file ``b`` in filesystem ``fs<c>``."""
        return path_key(f"fs{c}", f"data/part_{b % 50}/file_{b}.json")

    def valid_envelopes(self, i):
        return sum(1 for e in self.cycle_envs[i] if e[2] is not None)

    def write(self, out_dir):
        """Write the population, envelope files, change-log files and specs."""
        os.makedirs(f"{out_dir}/env", exist_ok=True)
        os.makedirs(f"{out_dir}/events", exist_ok=True)
        p = self.population
        _write(pa.table({
            "key": [r[0] for r in p], "filesystem": [r[1] for r in p],
            "pathUrlEncoded": [r[2] for r in p], "eTag": [r[3] for r in p],
            "contentLength": pa.array([r[4] for r in p], pa.int64()),
            "eventTime": [iso(r[5]) for r in p]}), f"{out_dir}/population.parquet")
        for i, (envs, evs) in enumerate(zip(self.cycle_envs, self.cycle_events)):
            _write(pa.table({"event_id": pa.array([e[0] for e in envs], pa.int64()),
                             "envelope": [e[1] for e in envs]}), f"{out_dir}/env/c{i:04d}.parquet")
            _write(_events_table(evs), f"{out_dir}/events/c{i:04d}.parquet")
        _write(_events_table([]), f"{out_dir}/events_empty.parquet")
        with open(f"{out_dir}/lookups.json", "w") as f:
            json.dump([[[kind, flt] for kind, flt, _ in lk] for lk in self.cycle_lookups], f)


def write_data_population(rw, documents, out_path):
    """The data index as it stands before the loop starts: every hot key whose
    document (``doc_id = file index``) the indexer would upload, with the
    columns ``Indexer.runIncremental`` writes. Returns the keys."""
    docs = pq.read_table(documents, columns=["doc_id", "text", "n_chars"]).to_pydict()
    doc = {i: (t, n) for i, t, n in zip(docs["doc_id"], docs["text"], docs["n_chars"])}
    rows = [(rw.key_of(c, b), b, f"fs{c}", *doc[b]) for _, _, c, b in rw.hot
            if 60 <= doc[b][1] <= 512]
    _write(pa.table({
        "key": [r[0] for r in rows], "doc_id": pa.array([r[1] for r in rows], pa.int64()),
        "filesystem": [r[2] for r in rows], "stringvalue": [r[3][:100] for r in rows],
        "numbervalue": pa.array([r[4] for r in rows], pa.int64()),
        "eTag": [hashlib.md5(r[3].encode()).hexdigest() for r in rows]}), out_path)
    return {r[0] for r in rows}


def _events_table(evs):
    return pa.table({
        "event_id": pa.array([e[0] for e in evs], pa.int64()),
        "ts": pa.array([e[1] for e in evs], pa.timestamp("us")),
        "user_id": pa.array([e[2] for e in evs], pa.int64()),
        "event_type": pa.array([e[3] for e in evs], pa.string()),
        "value": pa.array([e[4] for e in evs], pa.float64()),
        "props": pa.array([f'{{"k": {e[5]}}}' for e in evs], pa.string())})


def _envelope(fs, path, delete, time, etag, length, seq):
    kind = "BlobDeleted" if delete else "BlobCreated"
    return json.dumps({
        "topic": "/subscriptions/s/resourceGroups/r/providers/Microsoft.Storage/storageAccounts/acct",
        "subject": f"/blobServices/default/containers/{fs}/blobs/{path}",
        "eventType": f"Microsoft.Storage.{kind}", "eventTime": time, "id": str(seq),
        "data": {"api": "DeleteFile" if delete else "CreateFile", "eTag": etag,
                 "contentType": "application/octet-stream", "contentLength": length,
                 "blobType": "BlockBlob", "url": f"https://acct.dfs.core.windows.net/{fs}/{path}",
                 "sequencer": f"{seq:016x}"},
        "dataVersion": "1", "metadataVersion": "1"}, separators=(",", ":"))
