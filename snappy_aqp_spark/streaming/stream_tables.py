"""Stream-table DDL + the STREAMING INIT/START/STOP session commands.

Rebuilds the reference's streaming SQL surface (SnappyStreamingContext
commands driven through ``snsc.sql`` — AQPStreamingSuite.scala:63-130:
``STREAMING INIT 2secs`` / ``CREATE STREAM TABLE t (..) USING <provider>
OPTIONS (..)`` / ``CREATE TOPK TABLE .. ON t`` / ``STREAMING START`` /
query stream + TopK tables / ``STREAMING STOP``) on Structured Streaming:

* ``CREATE STREAM TABLE`` registers a ``readStream`` source. Providers:
  - ``file_stream``: Spark's file source (``format`` option: parquet /
    json / csv; ``path`` required) — the container-replicable analog of
    the reference's twitter_stream / kafka_stream connectors (connector
    auth options like ``rowConverter`` are provider-specific there and
    ignored here);
  - ``rate_stream``: Spark's built-in rate source (smoke/load testing).
* ``STREAMING START`` starts one ``foreachBatch`` query per stream table.
  Each micro-batch appends to a parquet snapshot — ``SELECT * FROM t``
  then reads everything ingested so far (the reference's window-backed
  stream relation scan) — and fans out into every TopK structure created
  ON that stream table (aqpTablePopulator semantics,
  SnappyContextAQPFunctions.scala:390-442).
* ``STREAMING STOP`` stops the queries; checkpoints persist, so a later
  START resumes without re-ingesting already-seen files.

Scale note: the snapshot/checkpoint directories are plain parquet + the
engine's own checkpoint format — on a cluster both live on shared storage
and the design is unchanged; only the local temp-dir default is a
convenience.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..stage_cache import scratch_dir


_DURATION_RE = re.compile(r"^\s*(\d+)\s*(ms|s|secs?|seconds?)?\s*$",
                          re.IGNORECASE)


def parse_streaming_duration_ms(text: str) -> int:
    """``2secs`` / ``2 SECS`` / ``500ms`` / ``2`` (seconds — the reference's
    ``STREAMING INIT <n>`` treats the bare number as seconds)."""
    m = _DURATION_RE.match(text)
    if not m:
        raise ValueError(f"bad STREAMING INIT duration: {text!r}")
    n = int(m.group(1))
    unit = (m.group(2) or "s").lower()
    return n if unit == "ms" else n * 1000


@dataclass
class StreamTableDef:
    name: str
    schema_ddl: str | None            # "k string, v long" (None: rate source)
    provider: str                     # file_stream | rate_stream
    options: dict[str, str] = field(default_factory=dict)


_CQ_WINDOW_RE = re.compile(
    r"\bFROM\s+(?P<table>\w+)\s+window\s*\(\s*duration\s+(?P<dur>\d+\s*\w+)"
    r"\s*(?:,\s*slide\s+(?P<slide>\d+\s*\w+)\s*)?\)",
    re.IGNORECASE)


def parse_cq(sql: str) -> tuple[str, str, int, int] | None:
    """``SELECT .. FROM <stream> window (duration 2 seconds[, slide 2
    seconds])`` — the reference's continuous-query registration surface
    (SnappyStreamingContext.registerCQ, AQPStreamingSuite.scala:149-181).
    Returns (inner_sql_without_window, table, duration_ms, slide_ms) or
    None; slide defaults to duration (tumbling)."""
    m = _CQ_WINDOW_RE.search(sql)
    if not m:
        return None
    dur = parse_streaming_duration_ms(m.group("dur"))
    slide = (parse_streaming_duration_ms(m.group("slide"))
             if m.group("slide") else dur)
    inner = sql[:m.start()] + f"FROM {m.group('table')}" + sql[m.end():]
    return inner.strip(), m.group("table").lower(), dur, slide


class ContinuousQuery:
    """A registered CQ: evaluated every ``slide`` over the trailing
    ``duration`` of micro-batches (classic DStream window semantics —
    window lengths quantize to whole batches of the session trigger, as in
    Spark Streaming). ``foreach_dataframe`` callbacks fire per evaluation;
    ``latest()`` returns the most recent result."""

    def __init__(self, mgr: "StreamingManager", inner_sql: str, table: str,
                 duration_ms: int, slide_ms: int, view: str):
        self._mgr = mgr
        self.inner_sql = inner_sql
        self.table = table
        self.win_batches = max(1, -(-duration_ms // mgr.trigger_ms))
        self.slide_batches = max(1, round(slide_ms / mgr.trigger_ms))
        self._view = view
        self._fns: list = []
        self._latest: DataFrame | None = None

    def foreach_dataframe(self, fn) -> "ContinuousQuery":
        self._fns.append(fn)
        return self

    def latest(self) -> DataFrame | None:
        return self._latest

    def _evaluate(self, hist: DataFrame, epoch: int) -> None:
        if epoch % self.slide_batches != 0:
            return
        window = (hist.where(hist["__cq_epoch"] > epoch - self.win_batches)
                      .drop("__cq_epoch"))
        window.createOrReplaceTempView(self._view)
        sql = re.sub(rf"\bFROM\s+{self.table}\b", f"FROM {self._view}",
                     self.inner_sql, flags=re.IGNORECASE)
        # materialize the evaluated window eagerly: a lazy plan over the
        # temp view would re-resolve the parquet history on a LATER
        # collect(), silently showing a newer epoch's data (and history
        # partitions older than the window get pruned from disk)
        self._latest = self._mgr.spark.sql(sql).localCheckpoint(eager=True)
        for fn in self._fns:
            fn(self._latest)


class StreamingManager:
    """Session-scoped registry of stream tables + the running queries."""

    def __init__(self, spark: SparkSession, state_root: str | None = None):
        self.spark = spark
        self.trigger_ms = 500
        self.tables: dict[str, StreamTableDef] = {}
        self._queries: dict[str, object] = {}   # table name -> StreamingQuery
        self._root = state_root or scratch_dir("aqp_streams_")
        # name -> list of callables(batch_df) fanned out per micro-batch
        self._sinks: dict[str, list] = {}
        # name -> list of ContinuousQuery; name -> batches seen so far
        self._cqs: dict[str, list] = {}
        self._epochs: dict[str, int] = {}
        # CQ temp-view names come from a monotonic counter: a count of
        # LIVE CQs would reuse a still-registered CQ's view after drop()
        import itertools
        self._cq_ids = itertools.count()

    @property
    def active(self) -> bool:
        return bool(self._queries)

    def init(self, duration_text: str) -> None:
        if self.active:
            raise RuntimeError("STREAMING INIT while started; STOP first")
        self.trigger_ms = parse_streaming_duration_ms(duration_text)

    def create(self, d: StreamTableDef) -> DataFrame:
        if d.provider.lower() not in ("file_stream", "rate_stream"):
            raise ValueError(f"unknown stream provider '{d.provider}' "
                             f"(supported: file_stream, rate_stream)")
        if d.provider.lower() == "file_stream" and "path" not in d.options:
            raise ValueError("file_stream needs a path option")
        self.tables[d.name.lower()] = d
        # before any data: an empty static snapshot with the DDL schema, so
        # the table is immediately queryable and usable as a TopK base
        if d.schema_ddl:
            empty = self.spark.createDataFrame([], schema=d.schema_ddl)
        else:
            empty = self.spark.createDataFrame(
                [], schema="timestamp timestamp, value long")
        empty.createOrReplaceTempView(d.name)
        return empty

    def add_sink(self, table: str, fn) -> None:
        """fan-out hook: fn(batch_df) runs on every micro-batch of table."""
        self._sinks.setdefault(table.lower(), []).append(fn)

    def register_cq(self, sql: str) -> ContinuousQuery:
        """Register a windowed continuous query (registerCQ analog). The
        window clause selects the trailing ``duration`` of micro-batches,
        re-evaluated every ``slide`` — dynamic registration mid-stream is
        allowed (AQPStreamingSuite.scala:178-186: dynamicCQ after start)."""
        parsed = parse_cq(sql)
        if parsed is None:
            raise ValueError(f"not a CQ (missing window clause): {sql!r}")
        inner, table, dur, slide = parsed
        if table not in self.tables:
            raise ValueError(f"unknown stream table '{table}'")
        cq = ContinuousQuery(self, inner, table, dur, slide,
                             f"__cq_{next(self._cq_ids)}")
        self._cqs.setdefault(table, []).append(cq)
        return cq

    def drop(self, name: str) -> bool:
        """Drop ONE stream table: stop only its query — the other stream
        tables' ingestion queries keep running untouched."""
        d = self.tables.pop(name.lower(), None)
        if d is None:
            return False
        q = self._queries.pop(name.lower(), None)
        if q is not None:
            q.stop()
        self.spark.catalog.dropTempView(d.name)
        self._sinks.pop(name.lower(), None)
        self._cqs.pop(name.lower(), None)
        self._epochs.pop(name.lower(), None)
        shutil.rmtree(os.path.join(self._root, name.lower()),
                      ignore_errors=True)
        return True

    # -- lifecycle -----------------------------------------------------------

    def _reader(self, d: StreamTableDef):
        if d.provider.lower() == "rate_stream":
            r = self.spark.readStream.format("rate")
            for k, v in d.options.items():
                r = r.option(k, v)
            return r.load()
        fmt = d.options.get("format", "parquet")
        r = self.spark.readStream.schema(d.schema_ddl).format(fmt)
        for k, v in d.options.items():
            if k not in ("path", "format", "rowconverter"):
                r = r.option(k, v)
        if fmt == "csv":
            r = r.option("header", "false")
        return r.load(d.options["path"])

    def _snapshot_dir(self, name: str) -> str:
        return os.path.join(self._root, name.lower(), "rows")

    def _hist_dir(self, name: str) -> str:
        return os.path.join(self._root, name.lower(), "hist")

    def _batch_fn(self, d: StreamTableDef):
        rows_dir = self._snapshot_dir(d.name)
        hist_dir = self._hist_dir(d.name)
        sinks = self._sinks.get(d.name.lower(), [])
        key = d.name.lower()

        def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            batch_df.write.mode("append").parquet(rows_dir)
            snap = self.spark.read.parquet(rows_dir)
            snap.createOrReplaceTempView(d.name)
            for fn in sinks:
                fn(batch_df)
            cqs = self._cqs.get(key)
            if cqs:
                # epoch-PARTITIONED history feeds the CQ windows (written
                # only when CQs exist): the window filter prunes to the
                # trailing partitions at read time, and aged-out epoch
                # partitions are deleted below — DStream-window semantics
                # discard aged batches, so state and per-batch cost stay
                # bounded by the largest registered window, not the
                # stream's lifetime
                epoch = self._epochs.get(key, 0) + 1
                self._epochs[key] = epoch
                from pyspark.sql import functions as F
                (batch_df.withColumn("__cq_epoch", F.lit(epoch))
                 .write.mode("append").partitionBy("__cq_epoch")
                 .parquet(hist_dir))
                hist = self.spark.read.parquet(hist_dir)
                for cq in cqs:
                    cq._evaluate(hist, epoch)
                self._prune_hist(hist_dir, key, epoch)

        return on_batch

    def _prune_hist(self, hist_dir: str, key: str, epoch: int) -> None:
        """delete CQ-history epoch partitions no window can still read
        (epoch <= current - max registered window)."""
        max_win = max((cq.win_batches for cq in self._cqs.get(key, [])),
                      default=0)
        if not max_win or not os.path.isdir(hist_dir):
            return
        for entry in os.listdir(hist_dir):
            if not entry.startswith("__cq_epoch="):
                continue
            try:
                e = int(entry.split("=", 1)[1])
            except ValueError:
                continue
            if e <= epoch - max_win:
                shutil.rmtree(os.path.join(hist_dir, entry),
                              ignore_errors=True)

    def start(self) -> None:
        if self.active:
            raise RuntimeError("STREAMING START while already started")
        for d in self.tables.values():
            ckpt = os.path.join(self._root, d.name.lower(), "ckpt")
            q = (self._reader(d).writeStream
                 .foreachBatch(self._batch_fn(d))
                 .trigger(processingTime=f"{self.trigger_ms} milliseconds")
                 .option("checkpointLocation", ckpt)
                 .start())
            self._queries[d.name.lower()] = q

    def process_all(self) -> None:
        """deterministic drain: block until every source is fully consumed
        (test/sync surface; production relies on the trigger cadence)."""
        for q in self._queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self._queries.values():
            q.stop()
        self._queries = {}

    def snapshot(self, name: str) -> DataFrame | None:
        """current accumulated rows of a stream table (None if unknown)."""
        d = self.tables.get(name.lower())
        if d is None:
            return None
        rows_dir = self._snapshot_dir(name)
        if os.path.isdir(rows_dir):
            return self.spark.read.parquet(rows_dir)
        if d.schema_ddl:
            return self.spark.createDataFrame([], schema=d.schema_ddl)
        return self.spark.createDataFrame(
            [], schema="timestamp timestamp, value long")
