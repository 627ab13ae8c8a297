"""Emulate the driver's correctness gate: run every __spark_entry__ query at
sf0.01 against its DuckDB oracle and report row-count / schema / value match.

Usage: python scripts/verify_entry.py [sf_dir] [name ...]
Named queries run alone, without the entry() smoke.
"""
from __future__ import annotations

import sys, time, math
sys.path.insert(0, "/root/repo")

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = sys.argv[2:]

import os
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         # sf0.1 runs need real heap (the default 1g dies mid-suite)
         .config("spark.driver.memory",
                 os.environ.get("VERIFY_DRIVER_MEM", "8g"))
         .appName("verify").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
# explicit cap: DuckDB's adaptive default can thrash against the Spark JVM
# at sf0.1 (the recursive-CTE closure oracle needs real headroom)
con.sql(f"SET memory_limit='{os.environ.get('VERIFY_DUCK_MEM', '24GB')}'")
# a runaway oracle replay must abort loudly, not fill the disk
con.sql("SET temp_directory='/tmp/aqp_duck_tmp'")
con.sql("SET max_temp_directory_size='40GB'")
for t in ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

if not NAMES:
    print("== entry() smoke ==")
    e = entrymod.entry(spark)
    n = e.count()
    print(f"entry rows: {n}  schema: {[f.name for f in e.schema.fields]}")
    assert n >= 0

qs = entrymod.queries()
oracles = entrymod.oracle_sql()
names = NAMES or sorted(qs)
fails = []
for name in names:
    t0 = time.time()
    try:
        sp = qs[name](spark, SF_DIR).toPandas()
        if name not in oracles:
            print(f"{name:28s} rows={len(sp):6d}  (rows-only check) {time.time()-t0:5.1f}s")
            continue
        dk = con.sql(oracles[name]).df()
        ok = sorted(sp.columns) == sorted(dk.columns) and len(sp) == len(dk)
        detail = ""
        if ok:
            cols = sorted(sp.columns)
            a = sp[cols].sort_values(cols).reset_index(drop=True)
            b = dk[cols].sort_values(cols).reset_index(drop=True)
            for c in cols:
                if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                    af = a[c].astype(float); bf = b[c].astype(float)
                    same = ((af == bf) | (af.isna() & bf.isna())).all()
                else:
                    same = ((a[c].astype(object) == b[c].astype(object)) |
                            (a[c].isna() & b[c].isna())).all()
                if not same:
                    ok = False; detail = f"col {c} differs"
                    break
        else:
            detail = f"shape sp={sp.shape} dk={dk.shape}"
        status = "OK " if ok else "FAIL"
        if not ok:
            fails.append(name)
        print(f"{name:28s} rows={len(sp):6d}  {status} {detail} {time.time()-t0:5.1f}s",
              flush=True)
    except Exception as ex:
        fails.append(name)
        print(f"{name:28s} ERROR {type(ex).__name__}: {str(ex)[:200]}")

print(f"\n{len(names) - len(fails)}/{len(names)} queries match")
spark.stop()
sys.exit(1 if fails else 0)
