"""Streaming maintenance == batch recompute, bit-for-bit.

Feeds the lineitem/events tables through a file-source stream in chunks and
asserts the maintained sample table (and TopK state) equals the batch path
over the full data — the determinism contract makes this an exact check.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from snappy_aqp_spark.sampling import stratified_sample
from snappy_aqp_spark.specs import SampleSpec
from snappy_aqp_spark.streaming import (StreamingSampleMaintainer,
                                        StreamingTopKMaintainer)
from snappy_aqp_spark.topk.api import (TopKRegistry, TopKSpec,
                                       query_approx_ts_topk)
from tests.conftest import SF_SMALL


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="aqp-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _chunked_stream(spark, src_parquet: str, tmpdir: str, chunks: int,
                    order_col: str):
    """write the table as N parquet chunks, return a file-source stream."""
    df = spark.read.parquet(src_parquet)
    data_dir = f"{tmpdir}/in"
    for i in range(chunks):
        (df.where(F.pmod(F.col(order_col), F.lit(chunks)) == i)
         .write.mode("append").parquet(data_dir))
    schema = df.schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2").parquet(data_dir)), df


@pytest.mark.parametrize("method", ["hash", "reservoir"])
def test_stream_sample_equals_batch(spark, tmpdir, method):
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag", "l_linestatus"), method,
                      fraction=0.05, reservoir_size=100, seed=42)
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/lineitem.parquet",
                                   tmpdir, chunks=4, order_col="l_orderkey")
    m = StreamingSampleMaintainer(spark, spec, f"{tmpdir}/state")
    q = (m.attach(stream, checkpointLocation=f"{tmpdir}/ckpt")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"

    streamed = m.sample_df().toPandas()
    batch = stratified_sample(full, spec).toPandas()
    cols = sorted(batch.columns)
    a = streamed[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b), f"{len(a)} streamed vs {len(b)} batch rows"


@pytest.mark.parametrize("method", ["hash", "reservoir"])
def test_stream_state_crash_between_writes_stays_consistent(spark, tmpdir,
                                                            method):
    """single-manifest commit: a crash AFTER the epoch's rows/stats are
    written but BEFORE the manifest flip must leave the reader on the
    previous consistent (rows, stats) pair; the retried batch then lands
    normally and equals the batch re-sample."""
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag", "l_linestatus"), method,
                      fraction=0.05, reservoir_size=100, seed=42)
    full = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    half1 = full.where("l_orderkey % 2 = 0")
    half2 = full.where("l_orderkey % 2 = 1")
    m = StreamingSampleMaintainer(spark, spec, f"{tmpdir}/state")
    m.process_batch(half1)
    before = m.sample_df().toPandas()

    real_commit = m._commit

    def crash_commit(manifest):
        raise RuntimeError("injected crash before manifest flip")
    m._commit = crash_commit
    with pytest.raises(RuntimeError, match="injected"):
        m.process_batch(half2)
    # reader still sees epoch 1: rows AND stats from the same commit
    mid = m.sample_df().toPandas()
    cols = sorted(before.columns)
    assert (mid[cols].sort_values(cols).reset_index(drop=True)
            .equals(before[cols].sort_values(cols).reset_index(drop=True)))

    m._commit = real_commit
    m.process_batch(half2)       # retry lands
    streamed = m.sample_df().toPandas()
    batch = stratified_sample(full, spec).toPandas()
    a = streamed[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


@pytest.mark.slow
def test_stream_state_crash_restart_retry_and_orphan_gc(spark, tmpdir):
    """full crash-inject protocol at the RETRY boundary: kill between
    epoch-dir write and manifest flip, RESTART (fresh maintainer over the
    same state dir — process death), retry the same epoch, and assert
    (a) the reader never saw the half-epoch, (b) the retried commit
    equals the batch re-sample, (c) the orphaned half-epoch directory is
    GC'd by a later commit, (d) a crash between manifest flip and GC also
    self-heals on the next commit."""
    import os
    spec = SampleSpec("lineitem", ("l_orderkey", "l_linenumber"),
                      ("l_returnflag",), "hash", fraction=0.05, seed=42)
    full = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    thirds = [full.where(f"l_orderkey % 3 = {i}") for i in range(3)]
    state = f"{tmpdir}/state_gc"
    epochs_dir = os.path.join(state, "epochs")

    m = StreamingSampleMaintainer(spark, spec, state)
    m.process_batch(thirds[0])
    before = m.sample_df().toPandas()
    man1 = m._manifest()

    # crash strictly BEFORE the flip: epoch dirs written, manifest not
    m._commit = lambda manifest: (_ for _ in ()).throw(
        RuntimeError("killed before flip"))
    with pytest.raises(RuntimeError, match="killed"):
        m.process_batch(thirds[1])
    orphaned = {d for d in os.listdir(epochs_dir)} - {
        os.path.normpath(p).split(os.sep)[1]
        for p in man1["rows"] + [man1["stats"]]}
    assert orphaned, "crash should have left a half-written epoch dir"

    # RESTART: a brand-new maintainer over the same state dir
    m2 = StreamingSampleMaintainer(spark, spec, state)
    assert m2._manifest() == man1          # reader still on epoch 1
    mid = m2.sample_df().toPandas()
    cols = sorted(before.columns)
    assert (mid[cols].sort_values(cols).reset_index(drop=True)
            .equals(before[cols].sort_values(cols).reset_index(drop=True)))

    # RETRY the same epoch on the new instance: lands, and the commit's
    # GC removes the orphaned half-epoch (uuid suffix = no collision)
    m2.process_batch(thirds[1])
    live_after = set(os.listdir(epochs_dir))
    assert not (orphaned & live_after), "orphaned half-epoch not GC'd"

    # crash AFTER flip but BEFORE gc: manifest is committed, cleanup isn't
    real_gc = m2._gc
    m2._gc = lambda manifest: (_ for _ in ()).throw(
        RuntimeError("killed before gc"))
    with pytest.raises(RuntimeError, match="killed"):
        m2.process_batch(thirds[2])
    man3 = m2._manifest()
    assert int(man3["epoch"]) == 2         # flip DID land
    m2._gc = real_gc
    stale = set(os.listdir(epochs_dir)) - {
        os.path.normpath(p).split(os.sep)[1]
        for p in man3["rows"] + [man3["stats"]]}
    # hash-method rows are append-only deltas, so only superseded stats
    # dirs go stale — the NEXT commit's gc clears whatever is unreferenced
    m3 = StreamingSampleMaintainer(spark, spec, state)
    m3.process_batch(spark.createDataFrame([], full.schema))
    assert not (stale & set(os.listdir(epochs_dir)))
    # final state equals the batch re-sample of everything ingested
    streamed = m3.sample_df().toPandas()
    batch = stratified_sample(full, spec).toPandas()
    a = streamed[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    assert a.equals(b)


@pytest.mark.slow
def test_stream_topk_equals_batch(spark, tmpdir, duck):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from snappy_aqp_spark.topk.api import create_approx_ts_topk
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/events.parquet",
                                   tmpdir, chunks=3, order_col="event_id")
    epoch = None
    # pin the epoch so batch/stream bucket identically
    from snappy_aqp_spark.topk.api import min_time_us
    epoch = min_time_us(full, "ts")
    spec = TopKSpec("s_topk", key="user_id", time_col="ts",
                    time_interval_us=3 * 24 * 3600 * 1_000_000,
                    epoch_us=epoch, width=4096, num_partitions=8, int_key=True)
    reg = TopKRegistry()
    m = StreamingTopKMaintainer(spark, reg, spec)
    q = (m.attach(stream).option("checkpointLocation", f"{tmpdir}/ck2")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"

    import dataclasses
    reg2 = TopKRegistry()
    create_approx_ts_topk(spark, reg2, full,
                          dataclasses.replace(spec, name="b_topk"))
    s = query_approx_ts_topk(spark, reg, "s_topk", None, None, 10).toPandas()
    b = query_approx_ts_topk(spark, reg2, "b_topk", None, None, 10).toPandas()
    assert s.equals(b)


@pytest.mark.slow
def test_stateful_space_saving_exact_when_capacity_sufficient(spark, tmpdir):
    """applyInPandasWithState summary == exact groupBy counts when capacity
    covers the per-pid key space (Space-Saving exactness property), across
    multiple micro-batches through the real state store."""
    from snappy_aqp_spark.streaming import final_topk, stateful_space_saving
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/events.parquet",
                                   tmpdir, chunks=3, order_col="event_id")
    out = stateful_space_saving(stream, "user_id", capacity=10_000,
                                num_partitions=8, int_key=True)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("ss_sink")
         .option("checkpointLocation", f"{tmpdir}/ck_ss")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = final_topk(spark.table("ss_sink"), k=20).toPandas()
    exact = (full.groupBy(F.col("user_id").cast("string").alias("key"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), F.col("key").asc()).limit(20)
             .toPandas())
    assert list(got["key"]) == list(exact["key"])
    assert list(got["EstimatedValue"]) == list(exact["n"])
    assert (got["DeltaError"] == 0).all()


@pytest.mark.slow
def test_stateful_space_saving_conservative_when_bounded(spark, tmpdir):
    """bounded capacity: estimates never undercount (est - err <= true <=
    est), state survives across micro-batches."""
    from snappy_aqp_spark.streaming import final_topk, stateful_space_saving
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/events.parquet",
                                   tmpdir, chunks=3, order_col="event_id")
    out = stateful_space_saving(stream, "user_id", capacity=8,
                                num_partitions=2, int_key=True)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("ss_sink2")
         .option("checkpointLocation", f"{tmpdir}/ck_ss2")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"

    got = final_topk(spark.table("ss_sink2"), k=10).toPandas()
    true = {r["key"]: r["n"] for r in
            full.groupBy(F.col("user_id").cast("string").alias("key"))
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(got) > 0
    for _, r in got.iterrows():
        t = true[r["key"]]
        assert r["EstimatedValue"] >= t
        assert r["EstimatedValue"] - r["DeltaError"] <= t


@pytest.mark.slow
def test_windowed_counts_drop_late_rows(spark, tmpdir):
    """watermark semantics end-to-end, deterministic via two stream runs
    over one checkpoint: run 1 finalizes window [00:00,00:05) (watermark
    advances past its end, append emits it once); run 2 restores the
    watermark from the checkpoint and the engine DROPS a late row aimed at
    the already-finalized window — if it were accepted, the window would
    re-open in state and re-emit, which the test would catch."""
    from datetime import datetime
    from snappy_aqp_spark.streaming.windowed import windowed_event_counts

    def rows(minutes):
        return [(i, datetime(2024, 1, 1, 0, m)) for i, m in enumerate(minutes)]

    schema = "event_id long, ts timestamp"
    in_dir = f"{tmpdir}/win_in"

    out_dir = f"{tmpdir}/win_out"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = windowed_event_counts(stream, "ts", "5 minutes", "2 minutes")
        # file sink: append-mode + supports checkpoint recovery across runs
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", f"{tmpdir}/ck_win")
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "stream did not finish in 120s"
        return sorted((r.win_start.minute, r.win_end.minute, r.n)
                      for r in spark.read.parquet(out_dir).collect())

    # run 1: [0,5) gets 3 rows; max event time 00:11 -> watermark 00:09
    # passes the window end, so it finalizes and emits exactly once
    spark.createDataFrame(rows([0, 1, 2, 10, 11]), schema) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    assert run_once() == [(0, 5, 3)]

    # run 2: a late row for minute 1 (behind the restored watermark) plus
    # an on-time row; the late row must be dropped -> nothing re-emits for
    # [0,5), and [10,15) stays open (end > watermark), so nothing emits
    spark.createDataFrame(rows([1, 12]), schema) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    # cumulative file-sink contents unchanged: late row dropped, nothing
    # re-emitted for [0,5), [10,15) still open
    assert run_once() == [(0, 5, 3)]


# --- round-3: sample time-aging (timeSeriesColumn/timeInterval) --------------


def _slot_sql(df, iv):
    """SQL twin of the maintainer's slot expression for any ts dtype."""
    dt = dict(df.dtypes)["ts"]
    if dt == "bigint":
        t = "(ts DIV 1000)"
    elif dt == "timestamp_ntz":
        t = ("timestampdiff(MICROSECOND, "
             "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    else:
        t = "unix_micros(ts)"
    return (f"CAST(FLOOR(CAST({t} AS DOUBLE) / CAST({iv} AS DOUBLE)) "
            f"AS BIGINT)")

@pytest.mark.slow
def test_stream_sample_time_aging_equals_batch_window(spark, tmpdir):
    """old slots age out; the maintained sample is bit-equal to a batch
    re-sample of the retained window (per-slot stratification), the
    reference's per-slot reservoir reset (stratifiedSampling.scala:342-357)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    iv = 3 * 24 * 3600 * 1_000_000
    spec = SampleSpec("events", ("event_id",), ("event_type",), "hash",
                      fraction=0.1, seed=42,
                      time_series_col="ts", time_interval_us=iv)
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/events.parquet",
                                   tmpdir, chunks=3, order_col="event_id")
    m = StreamingSampleMaintainer(spark, spec, f"{tmpdir}/state",
                                  retain_slots=2)
    q = (m.attach(stream, checkpointLocation=f"{tmpdir}/ckpt")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"
    streamed = m.sample_df().toPandas()

    slot_sql = _slot_sql(full, iv)
    max_slot = full.selectExpr(f"max({slot_sql}) AS m").first()["m"]
    cutoff = int(max_slot) - 1                      # retain_slots=2
    # only the retained slots survive in the maintained sample
    slots_kept = set(full.where(F.expr(f"{slot_sql} >= {cutoff}"))
                     .select("event_id").toPandas()["event_id"])
    assert set(streamed["event_id"]).issubset(slots_kept)

    batch_spec = SampleSpec("events", ("event_id",),
                            ("event_type", slot_sql), "hash",
                            fraction=0.1, seed=42)
    window_df = full.where(F.expr(f"{slot_sql} >= {cutoff}"))
    batch = stratified_sample(window_df, batch_spec).toPandas()
    cols = sorted(batch.columns)
    a = streamed[cols].sort_values("event_id").reset_index(drop=True)
    b = batch[cols].sort_values("event_id").reset_index(drop=True)
    assert a.equals(b), f"{len(a)} streamed vs {len(b)} batch rows"


def test_stream_reservoir_time_aging(spark, tmpdir):
    """reservoir method: per-(stratum x slot) reservoirs; aged state equals
    a batch per-slot reservoir over the retained window."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    iv = 3 * 24 * 3600 * 1_000_000
    spec = SampleSpec("events", ("event_id",), ("event_type",), "reservoir",
                      reservoir_size=40, seed=42,
                      time_series_col="ts", time_interval_us=iv)
    stream, full = _chunked_stream(spark, f"{SF_SMALL}/events.parquet",
                                   tmpdir, chunks=3, order_col="event_id")
    m = StreamingSampleMaintainer(spark, spec, f"{tmpdir}/state_r",
                                  retain_slots=2)
    q = (m.attach(stream, checkpointLocation=f"{tmpdir}/ckpt_r")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120), "stream did not finish in 120s"
    streamed = m.sample_df().toPandas()

    slot_sql = _slot_sql(full, iv)
    max_slot = full.selectExpr(f"max({slot_sql}) AS m").first()["m"]
    window_df = full.where(F.expr(f"{slot_sql} >= {int(max_slot) - 1}"))
    batch_spec = SampleSpec("events", ("event_id",),
                            ("event_type", slot_sql), "reservoir",
                            reservoir_size=40, seed=42)
    batch = stratified_sample(window_df, batch_spec).toPandas()
    cols = sorted(batch.columns)
    a = streamed[cols].sort_values("event_id").reset_index(drop=True)
    b = batch[cols].sort_values("event_id").reset_index(drop=True)
    assert a.equals(b), f"{len(a)} streamed vs {len(b)} batch rows"


def test_time_aging_ddl_round_trip():
    from snappy_aqp_spark.api import spec_from_ddl
    from snappy_aqp_spark.sql import frontend as fe
    name, base, opts, as_sql = fe.parse_create_sample(
        "CREATE SAMPLE TABLE ev_s ON events OPTIONS(qcs 'event_type', "
        "fraction '0.1', method 'hash', timeSeriesColumn 'ts', "
        "timeInterval '259200s')")
    spec = spec_from_ddl(base, opts, key_cols=["event_id"], as_sql=as_sql)
    assert spec.time_series_col == "ts"
    assert spec.time_interval_us == 259_200 * 1_000_000
    # bare number = milliseconds (reference parseLong convention)
    _, _, opts2, _ = fe.parse_create_sample(
        "CREATE SAMPLE TABLE ev_s2 ON events OPTIONS(qcs 'event_type', "
        "timeSeriesColumn 'ts', timeInterval '5000')")
    spec2 = spec_from_ddl("events", opts2, key_cols=["event_id"])
    assert spec2.time_interval_us == 5_000_000
    # reference parity: timeSeriesColumn without timeInterval raises
    with pytest.raises(ValueError, match="no timeInterval"):
        spec_from_ddl("events", {"qcs": "event_type",
                                 "timeseriescolumn": "ts"},
                      key_cols=["event_id"])


def test_session_window_batch_equals_sql_sessionize(spark):
    """the built-in session_window formulation and the LAG/running-sum SQL
    formulation implement the same gap semantics: identical (user, start,
    n_events, cents) rollups on the events table."""
    from snappy_aqp_spark.dialect import SPARK as _SP
    from snappy_aqp_spark.pipeline.dual import run_stages
    from snappy_aqp_spark.pipeline.sessions import sessionize_stages
    from snappy_aqp_spark.streaming.sessions import session_rollup
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    events.createOrReplaceTempView("events")
    st, fin = sessionize_stages(_SP, gap_minutes=720)
    sql_rows = {(r.user_id, r.start_us, r.n_events, r.value_cents)
                for r in run_stages(spark, st, fin).collect()}
    sw_rows = {(r.user_id, r.start_us, r.n_events, r.value_cents)
               for r in session_rollup(events, gap_minutes=720).collect()}
    assert sql_rows == sw_rows


def test_session_window_streaming_equals_batch(spark, tmpdir):
    """append-mode streaming session_window over a real multi-trigger
    stream emits exactly the batch sessions (a far-future flush row per
    user pushes the watermark past every real session's end)."""
    from snappy_aqp_spark.streaming.sessions import session_rollup
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    flush = (events.groupBy("user_id")
             .agg(F.max("ts").alias("m"))
             .select(F.lit(-1).alias("event_id"),
                     F.expr("m + INTERVAL 30 DAYS").alias("ts"),
                     "user_id", F.lit("flush").alias("event_type"),
                     F.lit(0.0).alias("value"),
                     F.lit("{}").alias("props")))
    allrows = events.select(*flush.columns).unionByName(flush)
    data_dir = f"{tmpdir}/in"
    for i in range(3):
        (allrows.where(F.pmod(F.col("event_id") + 3, F.lit(3)) == i)
         .write.mode("append").parquet(data_dir))
    stream = (spark.readStream.schema(allrows.schema)
              .option("maxFilesPerTrigger", "2").parquet(data_dir))
    out = session_rollup(stream, gap_minutes=720, watermark="0 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sess_sink")
         .option("checkpointLocation", f"{tmpdir}/ckpt")
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180), "session stream did not finish"
    # flush-sentinel sessions start strictly after every real event of
    # their user (max ts + 30 days) — exclude by time, not value pattern
    import pandas as pd
    flush_cut = {r.user_id: int(pd.Timestamp(r.m).value // 1000)
                 for r in events.groupBy("user_id")
                 .agg(F.max("ts").alias("m")).collect()}
    got = {(r.user_id, r.start_us, r.n_events, r.value_cents)
           for r in spark.table("sess_sink").collect()
           if r.start_us <= flush_cut[r.user_id]}
    batch = {(r.user_id, r.start_us, r.n_events, r.value_cents)
             for r in session_rollup(events, gap_minutes=720).collect()}
    assert got == batch


def test_streaming_sql_surface(spark, tmp_path):
    """AQPStreamingSuite.scala:63-130 protocol: INIT -> CREATE STREAM TABLE
    -> CREATE TOPK ON it -> START -> ingest -> query stream + TopK ->
    STOP -> INIT/START again resumes without re-ingesting -> DROP."""
    import json
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="stream-sql-test")
    src = tmp_path / "src"
    src.mkdir()
    s.sql("STREAMING INIT 1secs")
    s.sql("CREATE STREAM TABLE tagstream (hashtag string, cnt long) "
          f"USING file_stream OPTIONS (path '{src}', format 'json')")
    s.sql("CREATE TOPK TABLE tagtopk ON tagstream OPTIONS ("
          "key 'hashtag', timeInterval '2000ms', size '5')")
    assert s.sql("select * from tagstream").count() == 0
    s.sql("STREAMING START")
    with open(src / "b1.json", "w") as f:
        for tag, n in [("spark", 5), ("aqp", 3), ("sql", 2)]:
            for _ in range(n):
                f.write(json.dumps({"hashtag": tag, "cnt": 1}) + "\n")
    s.streaming.process_all()
    assert s.sql("select * from tagstream").count() == 10
    with open(src / "b2.json", "w") as f:
        for _ in range(4):
            f.write(json.dumps({"hashtag": "spark", "cnt": 1}) + "\n")
    s.streaming.process_all()
    assert s.sql("select * from tagstream").count() == 14
    top = s.sql("select * from tagtopk").collect()
    assert top[0].key == "spark" and top[0].EstimatedValue == 9
    s.sql("STREAMING STOP")
    # restart resumes from the checkpoint: nothing re-ingested
    s.sql("STREAMING INIT 2 SECS")
    s.sql("STREAMING START")
    s.streaming.process_all()
    assert s.sql("select * from tagstream").count() == 14
    assert s.sql("select * from tagtopk").collect()[0].EstimatedValue == 9
    s.sql("STREAMING STOP")
    s.sql("DROP TABLE IF EXISTS tagtopk")
    s.sql("DROP TABLE IF EXISTS tagstream")
    assert "tagstream" not in [t.name for t in spark.catalog.listTables()]


def test_rate_stream_provider_ingests(spark, tmp_path):
    """the rate_stream provider (reference's load-test source analog):
    CREATE STREAM TABLE ... USING rate_stream starts, accumulates rows in
    the snapshot, and SELECT * over it works mid-stream."""
    import time
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="rate-test")
    s.sql("STREAMING INIT 500ms")
    s.sql("CREATE STREAM TABLE ticker USING rate_stream "
          "OPTIONS (rowsPerSecond '50')")
    assert s.sql("select * from ticker").count() == 0
    s.sql("STREAMING START")
    deadline = time.time() + 30
    n = 0
    while time.time() < deadline:
        n = s.sql("select * from ticker").count()
        if n > 0:
            break
        time.sleep(0.5)
    assert n > 0, "rate stream produced no rows in 30s"
    cols = set(s.sql("select * from ticker").columns)
    assert {"timestamp", "value"} <= cols
    s.sql("STREAMING STOP")
    s.sql("DROP TABLE IF EXISTS ticker")


def test_streaming_duration_parse():
    from snappy_aqp_spark.streaming.stream_tables import (
        parse_streaming_duration_ms)
    assert parse_streaming_duration_ms("2secs") == 2000
    assert parse_streaming_duration_ms("2 SECS") == 2000
    assert parse_streaming_duration_ms("500ms") == 500
    assert parse_streaming_duration_ms("3") == 3000
    from snappy_aqp_spark.sql import frontend as fe
    assert fe.parse_streaming_cmd("STREAMING INIT 2secs") == ("init", "2secs")
    assert fe.parse_streaming_cmd("STREAMING START") == ("start", None)
    assert fe.parse_streaming_cmd("streaming stop ;") == ("stop", None)
    assert fe.parse_streaming_cmd("SELECT 1") is None
    assert fe.parse_create_stream(
        "CREATE STREAM TABLE t (a string) USING file_stream "
        "OPTIONS (path '/x', format 'json')") == (
            "t", "a string", "file_stream", {"path": "/x", "format": "json"})
    # paren-carrying column types must not truncate the schema capture
    assert fe.parse_create_stream(
        "CREATE STREAM TABLE t2 (a decimal(10,2), b varchar(32), c long) "
        "USING file_stream OPTIONS (path '/x', format 'csv')") == (
            "t2", "a decimal(10,2), b varchar(32), c long", "file_stream",
            {"path": "/x", "format": "csv"})


def test_drop_one_stream_table_keeps_others_running(spark, tmp_path):
    """dropping one stream table stops ONLY its ingestion query — the
    other stream tables keep ingesting (the all-queries stop was a bug)."""
    import json
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="stream-drop-test")
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(); b_dir.mkdir()
    s.sql("STREAMING INIT 1secs")
    s.sql(f"CREATE STREAM TABLE sa (k string) USING file_stream "
          f"OPTIONS (path '{a_dir}', format 'json')")
    s.sql(f"CREATE STREAM TABLE sb (k string) USING file_stream "
          f"OPTIONS (path '{b_dir}', format 'json')")
    s.sql("STREAMING START")
    (a_dir / "1.json").write_text(json.dumps({"k": "x"}) + "\n")
    (b_dir / "1.json").write_text(json.dumps({"k": "y"}) + "\n")
    s.streaming.process_all()
    assert s.sql("select * from sa").count() == 1
    assert s.sql("select * from sb").count() == 1
    s.sql("DROP TABLE sa")
    assert s.streaming.active          # sb's query survives the drop
    (b_dir / "2.json").write_text(json.dumps({"k": "z"}) + "\n")
    s.streaming.process_all()
    assert s.sql("select * from sb").count() == 2
    s.sql("STREAMING STOP")
    s.sql("DROP TABLE IF EXISTS sb")


def test_stream_sample_maintenance_sql_surface(spark, tmp_path):
    """CREATE SAMPLE TABLE ON a stream table (collectSamples fan-out,
    SnappyContextAQPFunctions.scala:81-105): approx queries over the
    stream stay bit-equal to a batch re-sample of the accumulated rows,
    and quantization bounds track the observed value range."""
    import json as _json
    import random
    from snappy_aqp_spark.api import AQPSession
    rnd = random.Random(7)
    s = AQPSession(spark, data_token="stream-sample-pytest")
    src = tmp_path / "src"
    src.mkdir()
    s.sql("STREAMING INIT 1secs")
    s.sql("CREATE STREAM TABLE evt (k string, v double, id long) "
          f"USING file_stream OPTIONS (path '{src}', format 'json')")
    s.sql("CREATE SAMPLE TABLE evt_sample ON evt OPTIONS("
          "qcs 'k', fraction '0.5', method 'hash', seed '42', "
          "keyColumns 'id')")
    s.sql("STREAMING START")
    q = ("SELECT k, sum(v) AS sv, absolute_error(sv), count(*) AS c "
         "FROM evt GROUP BY k ORDER BY k WITH ERROR 0.5")
    for lo, hi, scale in ((0, 200, 10), (200, 400, 20)):
        with open(src / f"b{lo}.json", "w") as f:
            for i in range(lo, hi):
                f.write(_json.dumps({"k": "ab"[i % 2],
                                     "v": rnd.uniform(0, scale),
                                     "id": i}) + "\n")
        s.streaming.process_all()
    got = s.sql(q).collect()
    # a real CI, not the zero-variance artifact of an unknown bound
    assert all(r.sv_absolute_error > 0 for r in got)
    assert s.col_bounds["v"] > 10       # grew past the first batch's range
    # bit-equal to a fresh batch session over the same snapshot
    s2 = AQPSession(spark, data_token="stream-sample-pytest-replay")
    s2.tables["evt"] = s.streaming.snapshot("evt")
    s2.create_sample_table_from_spec("evt_sample",
                                     s.catalog.get("evt_sample").spec)
    assert got == s2.sql(q).collect()
    s.sql("STREAMING STOP")


def test_derived_bounds_only_for_unknown_columns(spark):
    """known schema-map columns keep their static bounds (fixture oracles
    depend on the spec-level max_abs being session-independent)."""
    from snappy_aqp_spark.api import AQPSession
    from tests.conftest import SF_SMALL
    s = AQPSession(spark, data_token="bounds-static")
    s.load_tables(SF_SMALL, ["lineitem"])
    s.sql("CREATE SAMPLE TABLE li_b ON lineitem OPTIONS("
          "qcs 'l_returnflag', fraction '0.1', method 'hash', seed '42')")
    # every lineitem numeric non-key column is in DEFAULT_COL_BOUNDS
    assert s.col_bounds == {}
    an = s.analyze_sql("SELECT sum(l_quantity) AS q FROM lineitem "
                       "WITH ERROR 0.5")
    assert an.spec.aggs[0].max_abs == 2.0 * 2.0 ** 6


@pytest.mark.slow
def test_register_cq_windowed_stream(spark, tmp_path):
    """registerCQ analog (AQPStreamingSuite.scala:149-186): a CQ with
    `window (duration D, slide S)` re-evaluates over the trailing D of
    micro-batches every S; a dynamic CQ registered mid-stream only sees
    epochs from its registration on; parse errors surface clearly."""
    import json
    from snappy_aqp_spark.api import AQPSession
    from snappy_aqp_spark.streaming.stream_tables import parse_cq
    # parser unit checks
    inner, table, dur, slide = parse_cq(
        "SELECT * FROM HASHTAGTABLE window (duration 2 seconds, "
        "slide 2 seconds)")
    assert (table, dur, slide) == ("hashtagtable", 2000, 2000)
    assert "window" not in inner.lower()
    assert parse_cq("SELECT * FROM t")[0] if parse_cq("SELECT * FROM t") \
        else True  # no window clause -> None
    s = AQPSession(spark, data_token="cq-test")
    src = tmp_path / "cqsrc"
    src.mkdir()
    s.sql("STREAMING INIT 1secs")
    s.sql("CREATE STREAM TABLE tagcq (hashtag string, cnt long) "
          f"USING file_stream OPTIONS (path '{src}', format 'json', "
          "maxFilesPerTrigger '1')")
    seen: list[tuple[int, int]] = []   # (rows_in_window, distinct_tags)
    cq = s.register_cq("SELECT hashtag, count(*) AS c FROM tagcq "
                       "window (duration 2 seconds, slide 1 seconds) "
                       "GROUP BY hashtag")
    assert cq.win_batches == 2 and cq.slide_batches == 1
    cq.foreach_dataframe(
        lambda df: seen.append((sum(r.c for r in df.collect()),
                                df.count())))
    with pytest.raises(ValueError, match="window clause"):
        s.register_cq("SELECT * FROM tagcq")
    with pytest.raises(ValueError, match="unknown stream table"):
        s.register_cq("SELECT * FROM nosuch window (duration 1 seconds)")
    s.sql("STREAMING START")
    for i, batch in enumerate([[("spark", 3)], [("aqp", 2)],
                               [("sql", 1), ("spark", 1)]]):
        with open(src / f"b{i}.json", "w") as f:
            for tag, n in batch:
                for _ in range(n):
                    f.write(json.dumps({"hashtag": tag, "cnt": 1}) + "\n")
        s.streaming.process_all()
    # e1: {spark:3}; e2: e1+e2 = {spark:3, aqp:2}; e3: e2+e3 (e1 aged out)
    assert seen == [(3, 1), (5, 2), (4, 3)]
    # dynamic CQ after start: tumbling 1-batch window, sees only new epochs
    late: list[int] = []
    s.register_cq("SELECT * FROM tagcq window (duration 1 seconds)") \
        .foreach_dataframe(lambda df: late.append(df.count()))
    with open(src / "b3.json", "w") as f:
        f.write(json.dumps({"hashtag": "flink", "cnt": 1}) + "\n")
    s.streaming.process_all()
    assert late == [1]
    # shared window at e4: b2 (sql:1, spark:1) + b3 (flink:1) -> 3 groups
    assert seen[-1] == (3, 3)
    assert cq.latest() is not None
    s.sql("STREAMING STOP")
    s.sql("DROP TABLE IF EXISTS tagcq")


def test_cq_latest_stable_views_unique_history_pruned(spark, tmp_path):
    """Three CQ-lifecycle regressions: (1) latest() is MATERIALIZED at
    evaluation — collecting it after more batches land still returns the
    evaluated window, not a re-resolved newer epoch; (2) CQ temp-view names
    never reuse a live CQ's view after another table's drop() (monotonic
    counter); (3) history epoch partitions older than the largest window
    are deleted, so long-running streams carry bounded state."""
    import json
    import os
    from snappy_aqp_spark.api import AQPSession
    s = AQPSession(spark, data_token="cq-stable")
    src = tmp_path / "cqs2"
    src.mkdir()
    s.sql("STREAMING INIT 1secs")
    s.sql("CREATE STREAM TABLE cqa (tag string, n long) "
          f"USING file_stream OPTIONS (path '{src}', format 'json', "
          "maxFilesPerTrigger '1')")
    cq = s.register_cq("SELECT tag, count(*) AS c FROM cqa "
                       "window (duration 1 seconds) GROUP BY tag")
    s.sql("STREAMING START")
    with open(src / "b0.json", "w") as f:
        f.write(json.dumps({"tag": "first", "n": 1}) + "\n")
    s.streaming.process_all()
    first = cq.latest()
    assert [r.tag for r in first.collect()] == ["first"]
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"tag": "second", "n": 1}) + "\n")
    s.streaming.process_all()
    # (1) the handle taken BEFORE batch 2 still shows batch 1's window
    assert [r.tag for r in first.collect()] == ["first"]
    assert [r.tag for r in cq.latest().collect()] == ["second"]
    # (3) epoch 1's partition aged out of the 1-batch window -> deleted
    hist = s.streaming._hist_dir("cqa")
    parts = sorted(e for e in os.listdir(hist) if e.startswith("__cq_epoch="))
    assert parts == ["__cq_epoch=2"], parts
    # (2) drop an unrelated table+CQ, then register a new CQ: its view name
    # must not collide with the live cq's view
    s.sql("STREAMING STOP")
    src_b = tmp_path / "cqs2b"
    src_b.mkdir()
    s.sql("CREATE STREAM TABLE cqb (tag string, n long) "
          f"USING file_stream OPTIONS (path '{src_b}', format 'json')")
    s.register_cq("SELECT * FROM cqb window (duration 1 seconds)")
    s.streaming.drop("cqb")
    cq3 = s.register_cq("SELECT tag FROM cqa window (duration 1 seconds)")
    assert cq3._view != cq._view
    s.sql("DROP TABLE IF EXISTS cqa")


def test_streaming_windowed_agg_fixture_matches_oracle(spark, duck):
    """The driver fixture end-to-end: watermarked append-mode windowed
    counts over three time-ordered micro-batches must equal the DuckDB
    replay (tumbling-window counts over watermark-closed windows)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_windowed_agg_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.windowed import windowed_counts_oracle_sql
    oracle = duck.sql(windowed_counts_oracle_sql(
        "events", "ts", 3 * 86400 * 1_000_000, 2 * 86400 * 1_000_000,
        "event_type"))
    compare_frames(res, oracle)


def test_streaming_dedup_ingest_fixture_matches_oracle(spark, duck):
    """Planted duplicates (in-batch + cross-batch re-sends) through
    dropDuplicatesWithinWatermark must aggregate to the plain per-type
    aggregate over events — bounded-state exactly-once ingest."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_dedup_runner(spark, SF_SMALL)
    oracle = duck.sql(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) "
        "AS value_cents FROM events GROUP BY event_type "
        "ORDER BY event_type")
    compare_frames(res, oracle)


def test_streaming_dedup_window_chain_fixture_matches_oracle(spark, duck):
    """TWO stateful operators in ONE streaming query (Spark 4 multiple-
    stateful-operator support): dropDuplicatesWithinWatermark feeding the
    watermarked tumbling-window count, sharing a single watermark
    definition. Planted re-sends are removed by the dedup state, so the
    chain's closed windows equal the plain windowed-count replay."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_dedup_window_chain_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.windowed import windowed_counts_oracle_sql
    oracle = duck.sql(windowed_counts_oracle_sql(
        "events", "ts", 3 * 86400 * 1_000_000, 2 * 86400 * 1_000_000,
        "event_type"))
    compare_frames(res, oracle)


@pytest.mark.slow
def test_streaming_interval_join_fixture_matches_oracle(spark, duck):
    """Watermarked stream-stream interval join (clicks x purchases within
    1 day per user): inner join over time-ordered micro-batches is
    lossless, so the drained sink aggregates to the plain batch interval
    join."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_interval_join_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.joins import interval_join_pairs_oracle_sql
    oracle = duck.sql(interval_join_pairs_oracle_sql(
        "events", "user_id", "ts", "event_type = 'click'",
        "event_type = 'purchase'", 86400 * 1_000_000))
    compare_frames(res, oracle)


@pytest.mark.slow
def test_streaming_left_join_fixture_matches_oracle(spark, duck):
    """LEFT OUTER stream-stream interval join: watermark-proved non-matches
    emit as null-extended rows once the trailing flush batch advances both
    watermarks past every real match window; summary equals the batch
    LEFT JOIN."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_left_join_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.joins import left_join_summary_oracle_sql
    oracle = duck.sql(left_join_summary_oracle_sql(
        "events", "user_id", "ts", "event_type = 'click'",
        "event_type = 'purchase'", 86400 * 1_000_000))
    compare_frames(res, oracle)


def test_stream_static_enrich_matches_oracle(spark, duck):
    """Stream-static enrichment join (broadcast dimension per micro-batch,
    no state store) feeding a stateful aggregate: the complete-mode sink
    equals the batch per-tier aggregate."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._stream_static_enrich_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.joins import (
        stream_static_enrich_oracle_sql)
    compare_frames(res, duck.sql(stream_static_enrich_oracle_sql()))


@pytest.mark.slow
def test_streaming_file_sink_exactly_once_across_restart(spark, duck,
                                                         tmp_path):
    """Checkpointed stateful query + transactional file sink across a
    STOP/RESTART: drain two batches, stop the query, add a third batch,
    restart from the same checkpoint — the recovered state-store windows
    continue exactly (no loss, no duplicates), and the parquet sink's
    _spark_metadata commit log makes the readback exactly-once. Final
    readback equals the full batch windowed-count replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from snappy_aqp_spark.streaming.windowed import (
        windowed_counts_micros, windowed_counts_oracle_sql)
    from snappy_aqp_spark.topk.api import _time_us
    from tests.conftest import SF_SMALL, compare_frames
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    us = _time_us(df, "ts")
    lo = df.select(F.min(us).alias("m")).collect()[0]["m"]
    hi = df.select(F.max(us).alias("m")).collect()[0]["m"]
    step = (hi - lo) // 3 + 1
    (tmp_path / "in").mkdir()

    def write_batch(i: int) -> None:
        part = df.where((us >= lo + i * step) & (us < lo + (i + 1) * step))
        tbl = pa.Table.from_pandas(part.toPandas(), preserve_index=False)
        tbl = tbl.cast(pa.schema(
            [pa.field(f.name, pa.timestamp("us")) if f.name == "ts" else f
             for f in tbl.schema]))
        pq.write_table(tbl, str(tmp_path / "in" / f"b{i}.parquet"))

    win_us, delay_us = 3 * 86400 * 1_000_000, 2 * 86400 * 1_000_000

    def run_once() -> None:
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(tmp_path / "in")))
        out = windowed_counts_micros(stream, "ts", win_us, delay_us,
                                     "event_type")
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(300)

    write_batch(0)
    write_batch(1)
    run_once()                    # drains b0, b1; stops (availableNow)
    n_first = spark.read.parquet(str(tmp_path / "out")).count()
    write_batch(2)
    run_once()                    # RESTART from checkpoint, drains b2
    res = (spark.read.parquet(str(tmp_path / "out"))
           .orderBy("win_start_us", "key"))
    assert res.count() > n_first  # the restart emitted the late windows
    compare_frames(res, duck.sql(windowed_counts_oracle_sql(
        "events", "ts", win_us, delay_us, "event_type")))
    run_once()                    # idempotent: nothing new to process
    assert spark.read.parquet(str(tmp_path / "out")).count() == res.count()


def test_streaming_sliding_window_fixture_matches_oracle(spark, duck):
    """Hopping windows (4d window / 2d slide): every event feeds two
    overlapping windows; append-mode closed windows equal the SQL replay
    that expands each event to its slide-aligned window starts."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_sliding_window_runner(spark, SF_SMALL)
    from snappy_aqp_spark.streaming.windowed import sliding_counts_oracle_sql
    oracle = duck.sql(sliding_counts_oracle_sql(
        "events", "ts", 4 * 86400 * 1_000_000, 2 * 86400 * 1_000_000,
        2 * 86400 * 1_000_000, "event_type"))
    compare_frames(res, oracle)


def test_streaming_hll_matches_batch_oracle(spark, duck):
    """incremental per-batch HLL register merge (per-bucket MAX) equals
    the batch registers exactly, so the drained stream's estimate
    replays bit-identically in DuckDB — sketch-state maintenance with m
    rows per trigger, never raw keys."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_hll_runner(spark, SF_SMALL)
    compare_frames(res, duck.sql(entrymod._streaming_hll_oracle()))


def test_streaming_hist_quantile_matches_batch_oracle(spark, duck):
    """incremental per-batch bin-count merge (addition) equals the batch
    histogram exactly, so the drained stream's quantile estimates replay
    bit-identically in DuckDB."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL, compare_frames
    res = entrymod._streaming_hist_quantile_runner(spark, SF_SMALL)
    compare_frames(res, duck.sql(entrymod._streaming_hist_quantile_oracle()))
