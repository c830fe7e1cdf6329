"""Simulates the DRIVER's flow: its own plain SparkSession (none of our
session-factory configs), import __spark_entry__, run entry + all queries,
compare each against its oracle_sql via DuckDB — like CORRECTNESS_r{N}."""
import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim").getOrCreate())  # deliberately default confs

import __spark_entry__ as e

print("== entry() smoke ==")
df = e.entry(spark)
rows = df.collect()
print(f"entry rows={len(rows)} cols={df.columns}")
assert len(rows) > 0

sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

qs, oracles = e.queries(), e.oracle_sql()
only = {n for n in os.environ.get("ONLY", "").split(",") if n}
if only:
    qs = {n: f for n, f in qs.items() if n in only}
print(f"== {len(qs)} queries, {len(oracles)} oracles ==")
def canon(v):
    if v is None: return "\x00"
    if isinstance(v, float): return repr(round(v, 9))
    return str(v)
fails = []
for name in sorted(qs):
    try:
        sdf = qs[name](spark, sf)
        scols = sdf.columns
        srows = sorted(tuple(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in sdf.collect())
        if name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows OK"); continue
        res = con.sql(oracles[name]); dcols = list(res.columns)
        drows = sorted(tuple(canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in res.fetchall())
        ok = sorted(scols) == sorted(dcols) and srows == drows
        print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(srows)} rows)")
        if not ok: fails.append(name)
    except Exception as ex:
        print(f"  {name}: ERROR {type(ex).__name__}: {str(ex)[:200]}")
        fails.append(name)
print("FAILED:", fails if fails else "none")
sys.exit(1 if fails else 0)
