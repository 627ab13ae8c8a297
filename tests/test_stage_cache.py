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
    once, so the threads collect one shared planned Dataset per text
    concurrently. Every thread gets the rows of a serial run, and the only
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

    def run(i: int) -> tuple[dict, dict]:
        barrier.wait()
        s = session("sc-cf-threads")
        order = texts[i:] + texts[:i]
        frames = {t: s.sql(t) for t in order}
        return ({t: repr(frames[t].collect()) for t in order + order},
                {t: id(df) for t, df in frames.items()})

    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(run, range(4), timeout=900))
    assert [rows for rows, _ in got] == [want] * 4
    assert all(ids == got[0][1] for _, ids in got)
    samples = StageCache.of(spark).entries("sample").values()
    assert len(samples) == 2 == len(_cached_rdd_ids(spark))
    assert all(df.storageLevel.useMemory for df in samples)


# --- a plan hit returns the planned, renamed Dataset --------------------------

_REUSE_TEXT = ("SELECT l_returnflag, SUM(l_quantity) AS sq, "
               "absolute_error(sq) AS {err} FROM lineitem "
               "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.5")


def _collect_jobs(spark, df, group: str) -> tuple[int, list]:
    """(jobs ``df.collect()`` starts, its rows)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


@pytest.fixture(scope="module")
def reuse_session(spark):
    s = AQPSession(spark, data_token="sc-reuse")
    s.load_tables(SF_SMALL, ("lineitem",))
    s.sql("CREATE SAMPLE TABLE sc_reuse_s ON lineitem OPTIONS(qcs "
          "'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    return s


def test_repeated_aliased_text_returns_the_planned_dataset(
        spark, reuse_session):
    """A repeated WITH ERROR text whose error function is aliased returns
    the Dataset of its first call, which Spark has analyzed and planned:
    one QueryExecution, one job per collect, the first call's rows."""
    text = _REUSE_TEXT.format(err="ae")
    first = reuse_session.sql(text)
    _, rows = _collect_jobs(spark, first, "sc-reuse-first")
    again = reuse_session.sql(text)
    assert again is first
    assert again._jdf.queryExecution().equals(first._jdf.queryExecution())
    jobs, again_rows = _collect_jobs(spark, again, "sc-reuse-again")
    assert jobs == 1
    assert repr(again_rows) == repr(rows)
    assert again.columns == ["l_returnflag", "sq", "ae"]


def test_one_spec_under_two_alias_sets_has_two_entries(spark,
                                                       reuse_session):
    """The rename is part of the plan key: one spec aliased two ways has
    two entries, each with its own column names and the same values."""
    ae, err = (_REUSE_TEXT.format(err=a) for a in ("ae", "abs_err"))
    spec = reuse_session.analyze_sql(ae).spec
    assert reuse_session.analyze_sql(err).spec == spec
    a, b = reuse_session.sql(ae), reuse_session.sql(err)
    assert a.columns == ["l_returnflag", "sq", "ae"]
    assert b.columns == ["l_returnflag", "sq", "abs_err"]
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    keys = [k for k in _keys(spark, "plan", "sc-reuse") if k[0] == spec]
    assert sorted(list(dict(k[2]).values()) for k in keys) == [
        ["abs_err"], ["ae"]]
    assert reuse_session.sql(ae) is a and reuse_session.sql(err) is b



def test_threads_collect_one_reused_dataset(reuse_session):
    """Eight threads, more than the four cores, fetch and collect the one
    reused Dataset of a text at once under a short switch interval: every
    collect returns the serial rows."""
    text = _REUSE_TEXT.format(err="ae")
    want = repr(reuse_session.sql(text).collect())

    def run(_: int) -> list[str]:
        return [repr(reuse_session.sql(text).collect()) for _ in range(3)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(run, range(8), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [[want] * 3] * 8


_LIFE_DDL = ("CREATE SAMPLE TABLE sc_life_s ON sc_life OPTIONS(qcs 'g', "
             "fraction '0.5', method 'hash', seed '42', keyColumns 'k'{})")
_LIFE_TEXT = ("SELECT g, SUM(amt) AS sv, absolute_error(sv) AS ae "
              "FROM sc_life GROUP BY g ORDER BY g WITH ERROR 0.9")
# amounts within the first rows' maximum, so the derived bound is the same
# for the changed session and a fresh one
_LIFE_MORE = ("INSERT INTO sc_life SELECT id, CAST(id % 2 AS STRING), "
              "CAST(id % 5 AS DOUBLE) FROM range(400, 700)")


@pytest.mark.parametrize("change", ["insert", "attach", "drop", "rebuild"])
def test_data_change_replaces_the_reused_dataset(spark, tmp_path, change):
    """A reused answer lives until a data change: after an INSERT
    pass-through, a re-attach under the same spec, a drop and re-create
    of the sample, or ``rebuild 'true'``, the next sql() of the text is a
    new Dataset answering from the new rows, as a fresh session does.
    Rows INSERTed behind the session's back are not seen before that."""
    from snappy_aqp_spark.sampling.samplers import stratified_sample
    spark.sql(f"CREATE TABLE sc_life (k BIGINT, g STRING, amt DOUBLE) "
              f"USING parquet LOCATION '{tmp_path}/sc_life'")

    def session(token: str) -> AQPSession:
        s = AQPSession(spark, data_token=token)
        s.register_catalog_table("sc_life")
        s.sql(_LIFE_DDL.format(""))
        return s
    try:
        spark.sql("INSERT INTO sc_life SELECT id, CAST(id % 2 AS STRING), "
                  "CAST(id % 7 AS DOUBLE) FROM range(400)")
        s = session(f"sc-life-{change}")
        old = s.sql(_LIFE_TEXT)
        old_rows = old.collect()
        if change == "insert":
            s.sql(_LIFE_MORE)
        else:
            spark.sql(_LIFE_MORE)
            assert s.sql(_LIFE_TEXT) is old
            if change == "attach":
                spec = s.catalog.get("sc_life_s").spec
                s.attach_sample_data("sc_life_s", stratified_sample(
                    s.tables["sc_life"], spec), spec)
            elif change == "drop":
                s.drop_sample_table("sc_life_s")
                s.sql(_LIFE_DDL.format(""))
            else:
                s.sql(_LIFE_DDL.format(", rebuild 'true'"))
        new = s.sql(_LIFE_TEXT)
        assert new is not old
        assert not new._jdf.queryExecution().equals(
            old._jdf.queryExecution())
        new_rows = new.collect()
        assert new_rows != old_rows
        fresh = session(f"sc-life-fresh-{change}")
        assert repr(new_rows) == repr(fresh.sql(_LIFE_TEXT).collect())
    finally:
        spark.sql("DROP TABLE IF EXISTS sc_life")


def test_stream_batch_replaces_the_reused_dataset(spark, tmp_path):
    """A stream batch is a data change: the next sql() of a reused text
    over a stream table's sample is a new Dataset over every row landed
    so far, equal to the same sample of those rows in batch."""
    import json
    src = tmp_path / "src"
    src.mkdir()
    ddl = ("CREATE SAMPLE TABLE sc_st_s ON sc_st OPTIONS(qcs 'g', "
           "fraction '0.5', method 'hash', seed '42', keyColumns 'k')")
    text = _LIFE_TEXT.replace("sc_life", "sc_st")

    def land(name: str, ids: range) -> None:
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps({"k": i, "g": str(i % 2),
                                    "amt": float(i % 7)}) + "\n")
    s = AQPSession(spark, data_token="sc-life-stream")
    s.sql("STREAMING INIT 1secs")
    s.sql("CREATE STREAM TABLE sc_st (k bigint, g string, amt double) "
          f"USING file_stream OPTIONS (path '{src}', format 'json')")
    s.sql(ddl)
    s.sql("STREAMING START")
    try:
        land("b1.json", range(400))
        s.streaming.process_all()
        old = s.sql(text)
        old_rows = old.collect()
        assert s.sql(text) is old
        land("b2.json", range(400, 700))
        s.streaming.process_all()
        new = s.sql(text)
        assert new is not old
        new_rows = new.collect()
        assert new_rows != old_rows
    finally:
        s.sql("STREAMING STOP")
        s.sql("DROP TABLE IF EXISTS sc_st")
    batch = AQPSession(spark, data_token="sc-life-stream-batch")
    batch.register_table("sc_st", spark.read.schema(
        "k bigint, g string, amt double").json(str(src)))
    batch.sql(ddl)
    assert repr(new_rows) == repr(batch.sql(text).collect())
    batch.sql("DROP TABLE sc_st")
