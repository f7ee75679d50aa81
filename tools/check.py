#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's dumped
oracle_sql.json in DuckDB over the same parquet tables, compare with the
Spark parquet results (columns sorted by name, rows sorted, values
rounded-ish compare)."""
import sys, json, glob, math
import duckdb
import pyarrow.parquet as pq

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if not oracle:
    sys.exit(f"{outdir}/oracle_sql.json selects no keys: nothing to compare")

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.6g}"
    return str(v)

def canon_arrow(t):
    s = str(t)
    if s.startswith("int") or s.startswith("uint"): return "int"
    if s in ("float", "double", "halffloat"): return "float"
    if s.startswith("timestamp"): return "timestamp"
    if s in ("string", "large_string"): return "string"
    if s == "bool": return "bool"
    if s.startswith("list") or s.startswith("large_list") or s.startswith("fixed_size_list"): return "list"
    if s.startswith("decimal"): return "decimal"
    if s.startswith("date"): return "date"
    if s in ("binary", "large_binary") or s.startswith("fixed_size_binary"): return "binary"
    return s

def canon_duck(t):
    s = str(t).upper()
    if s in ("TINYINT","SMALLINT","INTEGER","BIGINT","UTINYINT","USMALLINT","UINTEGER","UBIGINT"): return "int"
    if s == "HUGEINT": return "hugeint"   # driver hash is type-sensitive: HUGEINT != BIGINT
    if s in ("FLOAT","DOUBLE"): return "float"
    if s.startswith("TIMESTAMP"): return "timestamp"
    if s == "VARCHAR": return "string"
    if s == "BOOLEAN": return "bool"
    if s.endswith("[]"): return "list"
    if s.startswith("DECIMAL"): return "decimal"
    if s == "DATE": return "date"
    if s == "BLOB": return "binary"
    return s.lower()

fails = 0
for name in sorted(oracle):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name}: MISSING spark output"); fails += 1; continue
    spark_pq = pq.read_table(files[0])
    spark_tbl = spark_pq.to_pydict()
    try:
        duck = con.sql(oracle[name])
        duck_cols = duck.columns
        duck_types = duck.types
        duck_rows = duck.fetchall()
    except Exception as ex:
        print(f"{name}: ORACLE SQL ERROR {str(ex)[:200]}"); fails += 1; continue
    scols = sorted(spark_tbl.keys())
    dcols = sorted(duck_cols)
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        print(f"{name}: SCHEMA MISMATCH spark={scols} duck={dcols}"); fails += 1; continue
    stypes = {f.name.lower(): canon_arrow(f.type) for f in spark_pq.schema}
    dtypes = {c.lower(): canon_duck(t) for c, t in zip(duck_cols, duck_types)}
    badtypes = [(c, stypes[c], dtypes[c]) for c in stypes if stypes[c] != dtypes[c]]
    if badtypes:
        print(f"{name}: TYPE MISMATCH {badtypes}"); fails += 1; continue
    n = len(spark_tbl[scols[0]]) if scols else 0
    srows = sorted(tuple(norm(spark_tbl[c][i]) for c in scols) for i in range(n))
    dmap = {c: i for i, c in enumerate(duck_cols)}
    drows = sorted(tuple(norm(r[dmap[c]]) for c in dcols) for r in duck_rows)
    if len(srows) != len(drows):
        print(f"{name}: ROWCOUNT spark={len(srows)} duck={len(drows)}"); fails += 1; continue
    if srows != drows:
        bad = next(i for i in range(len(srows)) if srows[i] != drows[i])
        print(f"{name}: VALUE MISMATCH at sorted row {bad}:\n  spark={srows[bad]}\n  duck ={drows[bad]}")
        fails += 1; continue
    print(f"{name}: OK ({len(srows)} rows)")
print("FAILED" if fails else "ALL OK", file=sys.stderr)
sys.exit(1 if fails else 0)
