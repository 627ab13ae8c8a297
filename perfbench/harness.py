"""Shared pieces of the benchmark: spans, Spark job accounting, output
checks against DuckDB, and summary statistics.

Everything here drives the program through its public surface
(``AQPSession`` and the ``snappy_aqp_spark.plans`` oracle emitters); it
reads no private module state of the program.
"""

from __future__ import annotations

import itertools
import math
import statistics
import time
from contextlib import contextmanager

now = time.perf_counter


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; 0.0 for an empty list."""
    values = sorted(values)
    if not values:
        return 0.0
    return float(values[min(len(values) - 1,
                            max(0, math.ceil(q * len(values)) - 1))])


class Probe:
    """Fixed work that does not touch the program: a Python loop in this
    process, a 4-task Spark job, and a pass through the Arrow Python
    workers. Timed between the workload's operations, its median tells how
    fast the shared host ran during the run; time metrics are reported
    scaled to a probe median of ``REF_MS`` (``factor``), so host contention
    that slows the probe and the workload alike cancels out. The raw probe
    median is reported too."""

    REF_MS = 400.0

    def __init__(self, spark):
        self.spark = spark
        self.samples: list[float] = []
        self.total_s = 0.0

    def __call__(self, keep: bool = True) -> None:
        t0 = now()
        x = 0
        for i in range(300_000):
            x ^= i * i
        self.spark.range(0, 2_000_000, 1, 4).selectExpr(
            "sum(hash(id)) AS h").collect()
        self.spark.range(0, 40_000, 1, 4).mapInPandas(
            lambda frames: frames, "id long").count()
        dt = now() - t0
        if keep:
            self.samples.append(dt * 1000.0)
            self.total_s += dt

    def median_ms(self) -> float:
        return median(self.samples)

    def factor(self) -> float:
        return self.REF_MS / self.median_ms()


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span has a name, start, end, parent span and an operation id shared
    by every span of one operation. Disabled, every method is a no-op, so
    the untraced run pays nothing for the instrumentation. With tracing
    on, each operation also runs under its own Spark job group so its
    jobs, stages and tasks can be counted afterwards."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        # set once the fixed warm-up is over: only timed spans are summarised
        self.timed = False
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._ids = itertools.count(1)
        self._op_ids = itertools.count(1)

    @contextmanager
    def op(self, cls: str):
        """One operation of class ``cls``."""
        rec = {"cls": cls, "timed": self.timed}
        if not self.enabled:
            yield
            return
        op_id = next(self._op_ids)
        rec["op"] = op_id
        group = f"perfbench-{op_id}"
        self.sc.setJobGroup(group, cls)
        self._op = (op_id, cls)
        try:
            with self.span(f"op.{cls}"):
                yield
        finally:
            self._op = None
            rec.update(self.job_counts(group))
            self.ops.append(rec)

    @contextmanager
    def span(self, name: str, cls: str | None = None):
        """A layer span; it belongs to the open operation, or stands alone
        tagged with ``cls`` (a call made outside the op on its behalf)."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = now()
        try:
            yield
        finally:
            self._stack.pop()
            op, op_cls = self._op or (None, cls)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": now(), "parent": parent,
                               "op": op, "cls": op_cls,
                               "timed": self.timed})

    def job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its children
        (children never overlap here: one client thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans}

    def layer_ms(self) -> dict[tuple[str, str], list[float]]:
        """(span name, op class) -> self times in ms."""
        selft = self.self_times()
        out: dict[tuple[str, str], list[float]] = {}
        for s in self.spans:
            if s["timed"]:
                out.setdefault((s["name"], s["cls"]), []).append(
                    selft[s["id"]] * 1000.0)
        return out

    def op_ms(self, cls: str) -> list[float]:
        """Traced wall times of the operations of class ``cls``."""
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == f"op.{cls}" and s["timed"]]

    def timed_ops(self, cls: str) -> list[dict]:
        return [r for r in self.ops if r["cls"] == cls and r["timed"]]

    def unattributed_share(self) -> float:
        """Largest share of an operation's traced wall time that no layer
        span covers (the op span's own self time). The layer self times
        add up to the operation's wall time within this share."""
        selft = self.self_times()
        worst = 0.0
        for s in self.spans:
            if (s["timed"] and s["parent"] is None
                    and s["name"].startswith("op.")):
                wall = s["end"] - s["start"]
                if wall > 0:
                    worst = max(worst, selft[s["id"]] / wall)
        return worst


def sql_op(tracer: Tracer, aqp, cls: str, text: str) -> tuple[list, float]:
    """One query as an operation: ``AQPSession.sql`` then ``collect``,
    with the physical plan forced in between when tracing so planning
    gets its own span. Returns the rows and the wall time in ms."""
    with tracer.op(cls):
        t0 = now()
        with tracer.span("api.sql"):
            df = aqp.sql(text)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            rows = df.collect()
        return rows, (now() - t0) * 1000.0


def stream_job_ids(spark) -> set[int]:
    """Ids of jobs not started by a benchmark operation: those without a job
    group plus those of the active streaming queries (Spark runs each
    stream's batches under its run id as job group)."""
    st = spark.sparkContext.statusTracker()
    ids = set(st.getJobIdsForGroup(None))
    for q in spark.streams.active:
        ids.update(st.getJobIdsForGroup(str(q.runId)))
    return ids


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def oracle_sql(aqp, text: str) -> str:
    """DuckDB replay of one query text, derived from the session's own
    routing decision: approximate texts replay their sample derivation and
    estimator (``oracle_sql_for``), plain texts replay themselves."""
    from snappy_aqp_spark.plans.approx_query import (oracle_sql_for,
                                                     visible_columns)
    analyzed = aqp.analyze_sql(text)
    if analyzed is None:
        return text
    if analyzed.spec is None:
        raise ValueError(f"text does not route to a sample: {text}")
    sql = oracle_sql_for(analyzed.spec)
    if analyzed.rename:
        cols = [f"{c} AS {analyzed.rename.get(c, c)}"
                for c in visible_columns(analyzed.spec)]
        sql = f"SELECT {', '.join(cols)} FROM (\n{sql}\n) __renamed"
    return sql


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "item"):          # numpy scalar from DuckDB
        return v.item()
    return v


def rows_of(records) -> list[tuple]:
    """Order-insensitive, comparable form of a result."""
    return sorted((tuple(_norm(v) for v in r) for r in records), key=repr)


def duck_rows(con, sql: str) -> list[tuple]:
    return rows_of(con.sql(sql).fetchall())

