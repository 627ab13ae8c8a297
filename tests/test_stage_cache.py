"""The per-SparkSession cache registry (snappy_aqp_spark/stage_cache.py):
eviction on data changes, scoping by data token and by session, and
concurrent builds of the same entries."""

from __future__ import annotations

import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from snappy_aqp_spark.api import AQPSession
from snappy_aqp_spark.stage_cache import StageCache
from tests.conftest import SF_SMALL


def _cached_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _keys(spark, kind: str, token: str) -> list:
    return [k for k in StageCache.of(spark).entries(kind) if k[1] == token]


def test_mutation_evicts_every_dependent_kind(spark, tmp_path):
    """An INSERT pass-through into a catalog base table drops the token's
    sample, plans and bootstrap row memo over it and frees the sample's
    blocks."""
    spark.sql(f"CREATE TABLE sc_mut (k BIGINT, g STRING, amt DOUBLE) "
              f"USING parquet LOCATION '{tmp_path}/sc_mut'")
    try:
        spark.sql("INSERT INTO sc_mut SELECT id, CAST(id % 2 AS STRING), "
                  "CAST(id % 7 AS DOUBLE) FROM range(400)")
        s = AQPSession(spark, data_token="sc-mutation")
        s.register_catalog_table("sc_mut")
        before = _cached_rdd_ids(spark)
        s.sql("CREATE SAMPLE TABLE sc_mut_s ON sc_mut OPTIONS(qcs 'g', "
              "fraction '0.5', method 'hash', seed '42', keyColumns 'k')")
        boot = ("SELECT g, AVG(amt) AS av, lower_bound(av) AS lb FROM sc_mut "
                "WHERE amt > 1 GROUP BY g ORDER BY g WITH ERROR 0.5")
        assert s.analyze_sql(boot).spec.estimator == "bootstrap"
        s.sql(boot).collect()
        s.sql("SELECT g, SUM(amt) AS sv, absolute_error(sv) AS ae FROM "
              "sc_mut GROUP BY g ORDER BY g WITH ERROR 0.5").collect()
        blocks = _cached_rdd_ids(spark) - before
        kinds = ("sample", "plan", "bs_rows")
        assert blocks and all(_keys(spark, k, "sc-mutation") for k in kinds)
        s.sql("INSERT INTO sc_mut VALUES (400, '0', 1.0)")
        assert not any(_keys(spark, k, "sc-mutation") for k in kinds)
        assert not blocks & _cached_rdd_ids(spark)
        s.sql("DROP TABLE sc_mut_s")
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_mut")


def test_sessions_over_different_data_never_share_entries(spark):
    """Two AQPSessions register one table name over different rows under
    different tokens: the same DDL and query answer from each session's
    own rows on every repeat, in any interleaving."""
    base = spark.range(400).selectExpr("id AS k", "CAST(id % 2 AS STRING) g")
    q = ("SELECT g, SUM(amt) AS sv FROM sc_two GROUP BY g ORDER BY g "
         "WITH ERROR 0.9")
    sessions = []
    for tok, amt in (("sc-two-a", 1.0), ("sc-two-b", 3.0)):
        s = AQPSession(spark, data_token=tok)
        s.register_table("sc_two", base.selectExpr("*", f"{amt}D AS amt"))
        s.sql("CREATE SAMPLE TABLE sc_two_s ON sc_two OPTIONS(qcs 'g', "
              "fraction '0.5', method 'hash', seed '42', keyColumns 'k')")
        sessions.append(s)
    a, b = sessions
    want_a = [r["sv"] for r in a.sql(q).collect()]
    want_b = [r["sv"] for r in b.sql(q).collect()]
    assert want_b == [3 * v for v in want_a] and want_a[0] > 0
    for s, want in ((b, want_b), (a, want_a), (a, want_a), (b, want_b)):
        assert [r["sv"] for r in s.sql(q).collect()] == want
    cache = StageCache.of(spark)
    (ka,), (kb,) = (_keys(spark, "sample", t) for t in ("sc-two-a",
                                                       "sc-two-b"))
    assert cache.get("sample", ka) is not cache.get("sample", kb)
    assert len(_keys(spark, "plan", "sc-two-a")) == 1
    assert len(_keys(spark, "plan", "sc-two-b")) == 1


def test_new_session_gets_its_own_registry(spark):
    """``spark.newSession()`` has its own registry: a sample cached under
    a data token in one session is never served to the other."""
    other = spark.newSession()
    assert StageCache.of(spark) is StageCache.of(spark)
    assert StageCache.of(other) is not StageCache.of(spark)
    rows, frames = [], []
    for sess in (spark, other):
        s = AQPSession(sess, data_token="sc-new-session")
        s.load_tables(SF_SMALL, ("lineitem",))
        s.sql("CREATE SAMPLE TABLE sc_ns_s ON lineitem OPTIONS(qcs "
              "'l_returnflag', fraction '0.1', method 'hash', seed '42')")
        rows.append(s.sql("SELECT l_returnflag, SUM(l_quantity) AS sq FROM "
                          "lineitem GROUP BY l_returnflag ORDER BY "
                          "l_returnflag WITH ERROR 0.5").collect())
        (key,) = _keys(sess, "sample", "sc-new-session")
        frames.append(StageCache.of(sess).get("sample", key))
        assert frames[-1].sparkSession is sess
    assert rows[0] == rows[1] and frames[0] is not frames[1]
    StageCache.of(other).clear()


def test_first_insert_wins_and_the_loser_is_unpersisted(spark):
    cache = StageCache.of(spark)
    first, other, same = (spark.range(30).selectExpr(f"id * {m} AS v")
                          .persist() for m in (2, 3, 2))
    first.count(), other.count()
    try:
        assert cache.put("labels", ("sc-race",), first) is first
        assert cache.put("labels", ("sc-race",), other) is first
        assert not other.storageLevel.useMemory
        # the same plan shares the winner's cache entry: it is kept
        assert cache.put("labels", ("sc-race",), same) is first
        assert first.storageLevel.useMemory
        with pytest.raises(ValueError):
            cache.clear("no_such_kind")
    finally:
        cache.clear("labels")
    assert not first.storageLevel.useMemory


def test_concurrent_builds_of_a_key_return_one_value(spark):
    """16 threads build four keys at once with a short switch interval:
    every build of a key returns the value the first insert left."""
    cache = StageCache.of(spark.newSession())

    def race(i: int) -> list:
        keys = [f"k{(i + n) % 4}" for n in range(300)]
        return [(k, cache.build("bs_rows", (k, "tok"), object)) for k in keys]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            got = [kv for r in pool.map(race, range(16), timeout=120)
                   for kv in r]
    finally:
        sys.setswitchinterval(interval)
    assert len({(k, id(v)) for k, v in got}) == 4
    assert len(cache.entries("bs_rows")) == 4


def test_concurrent_cf_hits_match_a_serial_run(spark):
    """Four threads, each with its own AQPSession over one data token,
    create the benchmark's two samples and run its six cf_hit texts at
    once. Every thread gets the rows of a serial run, and the only
    persisted blocks left are the two samples the registry holds."""
    perfbench = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench")
    sys.path.insert(0, perfbench)
    try:
        import interactive
    finally:
        sys.path.remove(perfbench)
    texts = [interactive.text(**shape)
             for shape in interactive.cf_shapes(np.random.default_rng(7))]

    def session(token: str) -> AQPSession:
        s = AQPSession(spark, error=0.2, confidence=0.95,
                       behavior="do_nothing", data_token=token)
        s.load_tables(SF_SMALL, ("lineitem", "orders"))
        for ddl in interactive.SAMPLE_DDL.values():
            s.sql(ddl)
        return s

    serial = session("sc-cf-serial")
    # repr: the local_omit text answers NaN, and NaN != NaN
    want = {t: repr(serial.sql(t).collect()) for t in texts}
    StageCache.of(spark).clear()
    spark.catalog.clearCache()
    barrier = threading.Barrier(4, timeout=120)

    def run(i: int) -> dict:
        barrier.wait()
        s = session("sc-cf-threads")
        order = texts[i:] + texts[:i]
        return {t: repr(s.sql(t).collect()) for t in order + order}

    with ThreadPoolExecutor(4) as pool:
        assert list(pool.map(run, range(4), timeout=900)) == [want] * 4
    samples = StageCache.of(spark).entries("sample").values()
    assert len(samples) == 2 == len(_cached_rdd_ids(spark))
    assert all(df.storageLevel.useMemory for df in samples)
