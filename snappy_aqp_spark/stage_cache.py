"""One cache registry per SparkSession.

The reference builds each sample table once, queries it many times, and
keeps the analyzed AQP plans in session state
(internal/SnappyAQPSessionState.scala). ``StageCache.of(spark)`` is that
state here: created on first use and dropped with the session object, so a
stopped session's entries are unreachable. Each entry lives under a kind:

- ``sample``: (sample spec, data token) -> the persisted sample. Its
  content is a function of the spec and the data the token pins, so
  sessions that share a token share samples.
- ``plan``: (query spec, data token, rename items) -> the final, renamed
  DataFrame the query answers with, so a hit returns a Dataset Spark has
  already analyzed and planned. Traced medians of the repository
  benchmark (perfbench interactive_sql, ~5k-row samples, 4-core VM): a
  plan miss spends ~80-100 ms in AQPSession.sql building the DataFrame; a
  hit spends ~0.4 ms in it, ~0.2 ms in Spark planning and ~57 ms in
  execution (1 job over a one-partition sample). Every HAC behavior is
  cached: the error-contract decision of strict / run_on_full_table /
  partial_run_on_base_table is a function of the spec and the data, like
  the plan, so the entry holds the relation the decision chose (the
  visible rows or the exact query). A strict raise is never cached and
  repeats on every call.
- ``bs_rows``: (query spec, data token) -> the sample's row count, which
  picks the bootstrap inner form.
- ``pipeline``: the latest (stages, final) text -> the stage frames it
  persisted; a different pipeline clears it first.
- ``index``: ``*_ix`` stage name -> (semantic hash, persisted stage).
- ``final``: (data token, (stages, final)) -> the analyzed final relation
  of the latest pipeline; cleared with ``pipeline``.
- ``labels``: (data token, LSH parameters, table, column) -> converged
  near-dup labels.
- ``scratch_path``: fixture-input key -> a directory from ``scratch_dir``.

Calls without a data token are never cached. ``evict`` is the one path for
data changes; every DataFrame the registry drops is unpersisted. One lock
guards the maps and builds run outside it: when two threads build one key,
the first insert wins and the other frame is unpersisted.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .specs import ApproxQuerySpec, SampleSpec

KINDS = ("sample", "plan", "bs_rows", "pipeline", "index", "final",
         "labels", "scratch_path")


class StageCache:
    """The cache registry of one SparkSession (see the module docstring)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._maps: dict[str, dict] = {k: {} for k in KINDS}

    @staticmethod
    def of(spark: SparkSession) -> "StageCache":
        return (spark.__dict__.get("_aqp_stage_cache")
                or spark.__dict__.setdefault("_aqp_stage_cache",
                                             StageCache()))

    def get(self, kind: str, key) -> Any:
        with self._lock:
            return self._maps[kind].get(key)

    def entries(self, kind: str) -> dict:
        with self._lock:
            return dict(self._maps[kind])

    def put(self, kind: str, key, value):
        """Insert unless ``key`` is held; return the held value. A losing
        frame is unpersisted unless it is the winner's plan: Spark keeps one
        cache entry per plan, which the winner's blocks live in."""
        with self._lock:
            held = self._maps[kind].setdefault(key, value)
        if held is not value:
            _unpersist([value], keep=_frames(held))
        return held

    def build(self, kind: str, key, make: Callable[[], Any]):
        held = self.get(kind, key)
        return held if held is not None else self.put(kind, key, make())

    def pop(self, kind: str, key) -> None:
        with self._lock:
            value = self._maps[kind].pop(key, None)
        _unpersist([value])

    def evict(self, token: str | None, *, base: str | None = None,
              sample: SampleSpec | None = None) -> None:
        """Drop the samples, plans and bs_rows entries under ``token``
        (None: every token) that read base table ``base`` or sample
        ``sample``."""
        base = base and base.lower()

        def reads(spec) -> bool:
            if isinstance(spec, SampleSpec):
                return spec == sample or spec.base_table.lower() == base
            return _plan_reads(spec, base, sample)
        with self._lock:
            dropped = [m.pop(k) for m in map(self._maps.get,
                                             ("sample", "plan", "bs_rows"))
                       for k in list(m)
                       if token in (None, k[1]) and reads(k[0])]
        _unpersist(dropped)

    def clear(self, kind: str | None = None) -> None:
        """Drop every entry of ``kind`` (None: of every kind)."""
        if kind is not None and kind not in KINDS:
            raise ValueError(f"unknown cache kind {kind!r}; one of {KINDS}")
        with self._lock:
            maps = [self._maps[k] for k in ((kind,) if kind else KINDS)]
            dropped = [v for m in maps for v in m.values()]
            for m in maps:
                m.clear()
        _unpersist(dropped)


def _plan_reads(spec: ApproxQuerySpec, base: str | None,
                sample: SampleSpec | None) -> bool:
    """Does the query read base table ``base`` (FROM, joins and WHERE
    subqueries included) or sample ``sample`` (WHERE-subquery samples and
    inlined scalar-subquery estimates included)?"""
    if base and (spec.sample.base_table.lower() == base
                 or (spec.from_relation or "").lower() == base
                 or any(j.table.lower() == base for j in spec.joins)
                 or any(base in (t.lower() for t in sp.tables)
                        for sp in spec.where_subs)):
        return True
    return sample is not None and (spec.sample == sample or any(
        sp.sample == sample or (sp.sub_spec is not None
                                and _plan_reads(sp.sub_spec, None, sample))
        for sp in spec.where_subs))


def _frames(value) -> list[DataFrame]:
    values = value if isinstance(value, (tuple, list)) else [value]
    return [v for v in values if isinstance(v, DataFrame)]


def _unpersist(values, keep: list[DataFrame] = ()) -> None:
    for df in (f for v in values for f in _frames(v)):
        if not any(df is k or df.sameSemantics(k) for k in keep):
            df.unpersist()


def scratch_dir(prefix: str) -> str:
    """A new temp directory, removed when this interpreter exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(_remove, path, os.getpid())
    return path


def _remove(path: str, pid: int) -> None:
    if os.getpid() == pid:          # never from a forked child
        shutil.rmtree(path, ignore_errors=True)
