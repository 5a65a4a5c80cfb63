"""Simulate the driver: import __spark_entry__, smoke entry(), run every
queries() entry at sf0.01, run oracle_sql() in DuckDB, compare count+cols+values.

Usage: python scripts/drive_contract.py [ROW_REGEX]
With ROW_REGEX only the rows whose name it matches (re.search) run, so a
change to one operator family can re-check its rows quickly; the default
is every row, which is the full contract."""
import os, re, sys, hashlib, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as E
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# 1. entry smoke
df = E.entry(spark)
rows = df.collect()
print(f"ENTRY: {len(rows)} rows, schema={df.schema.simpleString()[:120]}")
assert len(rows) >= 0

# 2. queries vs oracles at sf0.01
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

qs, osql = E.queries(), E.oracle_sql()
def vhash(pdf):
    pdf = pdf[sorted(pdf.columns)]
    recs = sorted(tuple(str(v) for v in r) for r in pdf.itertuples(index=False))
    return hashlib.md5(str(recs).encode()).hexdigest()[:10]

from data_pipelines_using_llm_spark.operators.caching import release_barriers

pattern = re.compile(sys.argv[1] if len(sys.argv) > 1 else "")
rows_run = sorted(n for n in qs if pattern.search(n))
print(f"ROWS: {len(rows_run)} of {len(qs)} match {pattern.pattern!r}")

fails = 0
for name in rows_run:
    fn = qs[name]
    spdf = fn(spark, sf).toPandas()
    release_barriers()
    if name not in osql:
        print(f"  {name}: rows-only, {len(spdf)} rows")
        continue
    t0 = time.perf_counter()
    opdf = con.sql(osql[name]).df()
    oracle_s = time.perf_counter() - t0
    ok_n = len(spdf) == len(opdf)
    ok_c = sorted(spdf.columns) == sorted(opdf.columns)
    ok_h = vhash(spdf) == vhash(opdf)
    status = "OK" if (ok_n and ok_c and ok_h) else "MISMATCH"
    if status != "OK":
        fails += 1
    print(f"  {name}: {status} rows={len(spdf)}/{len(opdf)} cols={ok_c} hash={ok_h} "
          f"oracle_s={oracle_s:.2f}")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
