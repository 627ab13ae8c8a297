from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def _driver_memory() -> str:
    """Heap of the one shared test JVM: 16g where the machine has 32 GB or
    more, else half of physical memory. The other half is for the OS, the
    JVM's off-heap memory (its RSS runs above the heap), the pytest
    process (pandas, DuckDB) and the Python workers: a 16g heap on a
    16 GB machine grows until the OS OOM killer takes the JVM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(16 * 1024, kb // 2048)}m"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         # one JVM hosts the whole suite: cached samples, persisted TopK
         # state and streaming state accumulate across modules. Earlier
         # 4g/8g/12g heaps died at the suite tail while the per-module
         # cache trim below did not exist yet; with it, growth stays
         # bounded by one module's working set
         .config("spark.driver.memory", _driver_memory())
         .appName("snappy-aqp-spark-tests").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True, scope="module")
def _trim_spark_caches():
    """Per-module cache eviction (round-8 VERDICT #3): the shared test JVM
    accumulated every module's persisted samples / pipeline stages /
    plan-cache intermediates until the suite tail OOMed an
    InMemoryRelation build on a loaded box. Dropping the session-level
    registries at module teardown bounds growth to one module's working
    set; the next module that needs a sample simply rebuilds and
    re-persists it (correctness is unaffected — these are pure caches)."""
    yield
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is None:
        return
    from snappy_aqp_spark.stage_cache import StageCache
    StageCache.of(s).clear()
    s.catalog.clearCache()


def _duck_con(sf_dir: str):
    con = duckdb.connect()
    # same discipline as every oracle connection in scripts/: a runaway
    # replay aborts loudly instead of filling the disk
    con.sql("SET temp_directory='/tmp/aqp_duck_tmp'")
    con.sql("SET max_temp_directory_size='40GB'")
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.fixture(scope="session")
def duck():
    return _duck_con(SF_SMALL)


@pytest.fixture(scope="session")
def duck_medium():
    return _duck_con(SF_MEDIUM)


def compare_frames(spark_df, duck_df, sort_cols=None, rtol=0.0,
                   atol=0.0):
    """Driver-style comparison: schema names, row count, exact values —
    AND pandas dtype KINDS. The driver hashes values as each engine
    materializes them into pandas, so a DuckDB type widening (SUM(BIGINT)
    -> HUGEINT -> float64) hash-reds a value-identical result; asserting
    kind equality here catches that before the round boundary.

    ``rtol``: relative tolerance for float columns — 0.0 (bit-exact, the
    driver contract) everywhere except verbatim reference texts that SUM
    raw doubles on the exact route, where the two engines' IEEE
    accumulation orders legitimately differ in the last ulps."""
    sp = spark_df.toPandas()
    dk = duck_df.df() if hasattr(duck_df, "df") else duck_df
    assert sorted(sp.columns) == sorted(dk.columns), (sp.columns, dk.columns)
    kind = {"u": "i"}  # unsigned folds into signed; all else exact
    for c in sp.columns:
        a = kind.get(sp[c].dtype.kind, sp[c].dtype.kind)
        b = kind.get(dk[c].dtype.kind, dk[c].dtype.kind)
        assert a == b, (f"column {c}: driver-visible dtype kind differs — "
                        f"spark {sp[c].dtype} vs duck {dk[c].dtype}; pin "
                        f"the type with an explicit CAST in both texts")
    assert len(sp) == len(dk), (len(sp), len(dk))
    cols = sorted(sp.columns)
    sort_by = sort_cols or cols
    sp = sp.sort_values(sort_by).reset_index(drop=True)[cols]
    dk = dk.sort_values(sort_by).reset_index(drop=True)[cols]
    for c in cols:
        a, b = sp[c], dk[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if rtol or atol:
                import numpy as np
                same = (np.isclose(a, b, rtol=rtol, atol=atol,
                                   equal_nan=True)
                        | (a.isna() & b.isna()))
            else:
                same = ((a == b) | (a.isna() & b.isna()))
        else:
            same = (a.astype(object) == b.astype(object)) | (a.isna() & b.isna())
        assert same.all(), f"column {c} mismatch:\n{sp[c][~same]}\nvs\n{dk[c][~same]}"
