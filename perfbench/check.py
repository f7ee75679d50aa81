"""Correctness checks for one benchmark run.

Every check returns a list of (operation, problem) pairs; an empty list means
the run's answers are right.

* The index read/write loop is replayed on the generator's own model of every
  envelope it emitted: latest action per key wins inside a micro-batch (by
  eventTime, then event_id), a later batch overrides an earlier one,
  malformed envelopes are dead-lettered. The indexer's run metrics and
  watermark come from the same model applied to the change-log rows.
* Each query key's full answer on the warm-up corpus is compared, rows
  regardless of order, with DuckDB running the key's oracle SQL over the same
  parquet; the row count of every timed execution on the measured corpus is
  compared with the oracle's row count there.
"""
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

from gen import iso


class RwModel:
    def __init__(self, rw, doc_chars, data0):
        self.rw = rw
        self.doc_chars = doc_chars          # doc_id -> n_chars for doc 0..499
        self.state = {r[0]: (r[3], r[5]) for r in rw.population}   # key -> (eTag, eventTime us)
        self.data = set(data0)              # keys in the data index
        self.wm = [None] * 10               # per-partition watermark (ns)
        self.events = []                    # change-log rows landed so far
        self.dead = 0

    def apply_cycle(self, i):
        latest = {}
        for _, _, m in self.rw.cycle_envs[i]:
            if m is None:
                self.dead += 1
                continue
            key, delete, t, eid, etag, _ = m
            if key not in latest or (t, eid) > latest[key][:2]:
                latest[key] = (t, eid, delete, etag)
        for key, (t, _, delete, etag) in latest.items():
            if delete:
                self.state.pop(key, None)
            else:
                self.state[key] = (etag, t)
        self.events.extend(self.rw.cycle_events[i])

    def run_indexer(self, part):
        """Expected RunMetrics and watermark of the partition's run."""
        since = self.wm[part]
        pref = str(part)
        rows = [e for e in self.events
                if str((e[0] % 500) % 50).startswith(pref) and (since is None or e[1] * 1000 > since)]
        if not rows:
            return dict(readCount=0, readFailedCount=0, processedCount=0, uploadCreatedCount=0,
                        uploadModifiedCount=0, uploadFailedCount=0, uploadFailedTooLargeCount=0,
                        watermark=since if since is not None else -(1 << 63))
        new_wm = max(e[1] for e in rows) * 1000
        latest = {}
        for e in rows:
            eid, t, uid = e[0], e[1], e[2]
            b = eid % 500
            key = self.rw.key_of(uid % 4, b)
            if key not in latest or (t, eid) > latest[key][:2]:
                latest[key] = (t, eid, e[3] == "error")
        delta = [(k, v[1] % 500) for k, v in latest.items() if not v[2]]
        failed = sum(1 for _, d in delta if self.doc_chars[d] < 60)
        too_large = sum(1 for _, d in delta if self.doc_chars[d] > 512)
        up = [k for k, d in delta if 60 <= self.doc_chars[d] <= 512]
        created = sum(1 for k in up if k not in self.data)
        self.data.update(up)
        self.wm[part] = new_wm
        return dict(readCount=len(delta) - failed, readFailedCount=failed,
                    processedCount=len(up), uploadCreatedCount=created,
                    uploadModifiedCount=len(up) - created, uploadFailedCount=0,
                    uploadFailedTooLargeCount=too_large, watermark=new_wm)

    def answer(self, kind, args):
        if kind == "since":
            fs, t = args
            keys = [k for k, (_, et) in self.state.items() if self.rw.info[k][0] == fs and et >= t]
        elif kind == "prefix":
            fs, p = args
            pre = f"data%2fpart_{p}"
            keys = [k for k in self.state
                    if self.rw.info[k][0] == fs and self.rw.info[k][1].startswith(pre)]
        else:
            keys = [args[0]] if args[0] in self.state else []
        keys.sort()
        return len(keys), hashlib.md5("".join(k + "\n" for k in keys).encode()).hexdigest()


def check_rw(rw, res, work, doc_chars, data0):
    bad = []
    model = RwModel(rw, doc_chars, data0)
    cycles = int(res["cycles"])
    runs = {r["cycle"]: r for r in res["runs"]}
    looks = {(x["cycle"], x["i"]): x for x in res["lookups"]}
    for i in range(cycles):
        model.apply_cycle(i)
        want = model.run_indexer((i + 1) % 10)
        got = runs.get(i)
        if got is None:
            bad.append((f"cycle {i} indexer run", "no result"))
        else:
            diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            if diff:
                bad.append((f"cycle {i} indexer run", f"got/want {diff}"))
        for j, (kind, _, args) in enumerate(rw.cycle_lookups[i]):
            n, md5 = model.answer(kind, args)
            got = looks.get((i, j))
            if got is None:
                bad.append((f"cycle {i} lookup {j}", "no result"))
            elif (got["rows"], got["md5"]) != (n, md5):
                bad.append((f"cycle {i} lookup {j}", f"{kind}: {got['rows']} rows, want {n}"))
    if int(res["dead_letters"]) != model.dead:
        bad.append(("dead letters", f"{res['dead_letters']}, want {model.dead}"))
    got = pq.read_table(f"{work}/answers/pathindex").to_pydict()
    state = {k: (e, t) for k, e, t in zip(got["key"], got["eTag"], got["eventTime"])}
    want = {k: (e, iso(t)) for k, (e, t) in model.state.items()}
    if state != want:
        miss = len(want.keys() - state.keys())
        extra = len(state.keys() - want.keys())
        wrong = sum(1 for k in want.keys() & state.keys() if want[k] != state[k])
        bad.append(("path index", f"{miss} keys missing, {extra} extra, {wrong} stale"))
    data = set(pq.read_table(f"{work}/answers/dataindex").column("key").to_pylist())
    if data != model.data:
        bad.append(("data index", f"{len(data)} keys, want {len(model.data)}"))
    return bad


def _norm_cols(con, rel):
    """Per column, a SQL expression rendering it comparably: floats to six
    significant digits, everything else as text."""
    cols = con.sql(f"DESCRIBE {rel}").fetchall()
    out = []
    for name, typ, *_ in cols:
        t = typ.upper()
        q = f'"{name}"'
        if t in ("DOUBLE", "FLOAT") or t.startswith("DECIMAL"):
            out.append((name.lower(), f"printf('%.6g', {q}::DOUBLE)"))
        elif t.endswith("[]") and ("DOUBLE" in t or "FLOAT" in t):
            out.append((name.lower(), f"list_transform({q}, x -> printf('%.6g', x::DOUBLE))::VARCHAR"))
        else:
            out.append((name.lower(), f"{q}::VARCHAR"))
    return dict(out)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _duck(corpus):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    return con


def check_mix(answer_corpus, answers, count_corpus, oracles, rows_seen):
    """Compare each key's answer with its DuckDB oracle, rows regardless of
    order, and each timed execution's row count with the oracle's count."""
    bad = []
    con = _duck(count_corpus)
    for key, sql in sorted(oracles.items()):
        want = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        got = sorted(set(rows_seen.get(key, [])))
        if got != [want]:
            bad.append((key, f"timed passes returned {got} rows, oracle {want}"))
    con.close()
    con = _duck(answer_corpus)
    for key, sql in sorted(oracles.items()):
        files = f"{answers}/{key}/*.parquet"
        if not os.path.isdir(f"{answers}/{key}"):
            bad.append((key, "no answer written"))
            continue
        try:
            con.sql(f"CREATE OR REPLACE TEMP VIEW spark_ans AS SELECT * FROM read_parquet('{files}')")
            con.sql(f"CREATE OR REPLACE TEMP TABLE oracle_ans AS {sql}")
        except Exception as ex:                 # noqa: BLE001
            bad.append((key, f"oracle error {str(ex)[:200]}"))
            continue
        s, o = _norm_cols(con, "spark_ans"), _norm_cols(con, "oracle_ans")
        if sorted(s) != sorted(o):
            bad.append((key, f"columns {sorted(s)} != oracle {sorted(o)}"))
            continue
        names = sorted(s)
        n_s = con.sql("SELECT count(*) FROM spark_ans").fetchone()[0]
        n_o = con.sql("SELECT count(*) FROM oracle_ans").fetchone()[0]
        if n_s != n_o:
            bad.append((key, f"{n_s} rows, oracle {n_o}"))
            continue
        sel_s = ", ".join(s[c] for c in names)
        sel_o = ", ".join(o[c] for c in names)
        diff = con.sql(f"SELECT count(*) FROM ((SELECT {sel_s} FROM spark_ans EXCEPT ALL "
                       f"SELECT {sel_o} FROM oracle_ans) UNION ALL (SELECT {sel_o} FROM oracle_ans "
                       f"EXCEPT ALL SELECT {sel_s} FROM spark_ans))").fetchone()[0]
        if diff:
            bad.append((key, f"{diff} rows differ from the oracle"))
    con.close()
    return bad

