"""stream_ingest: the streaming SQL surface, writes beside reads.

Set-up: ``STREAMING INIT`` with a trigger far shorter than a batch,
``CREATE STREAM TABLE ... USING file_stream`` for lineitem and events, a
``CREATE SAMPLE TABLE`` on the lineitem stream, a ``CREATE TOPK TABLE`` on
the events stream, then ``STREAMING START``.

Before the set-up clock starts, the generator stages seeded slices of both
tables as parquet files (events in time order, as a stream delivers them). Each cycle lands one slice of each table by atomic
rename, calls ``process_all()``, then runs the approximate query once (the
fresh read: every batch invalidates the sample and plan caches), the same
text three more times (the hits) and a TopK scan; only then does the next batch land.

Checks: each hit returns the fresh read's rows; each fresh read equals its
DuckDB replay over the slices landed so far; the final snapshots hold
every landed row; the final TopK equals ``topk_oracle_sql`` over every
landed event.
"""

from __future__ import annotations

import os

import numpy as np

from harness import (Probe, cached_mb, duck_rows, median, now, oracle_sql,
                     rows_of, sql_op, stream_job_ids)

N_ORDERS = 10_000            # ~40k lineitem rows
N_EVENTS = 12_000
N_BATCHES = 16
SETUP_REPEATS = 2            # each starts two streaming queries (~5 s)
WARMUP_BATCHES = 1
HITS_PER_BATCH = 3
WARMUP_PROBES = 3
TRIGGER = "50ms"
TOPK_K = 20
SCHEMAS = {
    "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, "
                 "l_shipdate timestamp_ntz"),
    "events": ("event_id bigint, ts timestamp_ntz, user_id bigint, "
               "event_type string, value double, props string"),
}
SAMPLE_DDL = ("CREATE SAMPLE TABLE li_stream_sample ON lineitem OPTIONS("
              "qcs 'l_returnflag,l_linestatus', fraction '0.05', "
              "method 'hash', seed '42')")


def topk_spec():
    from snappy_aqp_spark.topk.api import TopKSpec
    return TopKSpec("top_users", key="user_id", time_col="ts",
                    time_interval_us=3 * 86_400_000_000,
                    epoch_us=1_704_067_200_000_000, size=100, depth=7,
                    width=4096, num_partitions=8, int_key=True)


def topk_ddl(spec) -> str:
    return (f"CREATE TOPK TABLE {spec.name} ON events OPTIONS("
            f"key '{spec.key}', timeSeriesColumn '{spec.time_col}', "
            f"timeInterval '{spec.time_interval_us // 1_000_000}s', "
            f"epoch '{spec.epoch_us}', size '{spec.size}', "
            f"depth '{spec.depth}', width '{spec.width}', "
            f"numPartitions '{spec.num_partitions}', intKey 'true')")


def query_text(seed: int) -> str:
    rng = np.random.default_rng([seed, 2])
    lo = int(rng.integers(1, 20))
    return ("SELECT l_returnflag, SUM(l_quantity) AS sq, "
            "absolute_error(sq) AS ae, relative_error(sq) AS re "
            f"FROM lineitem WHERE l_quantity >= {lo} "
            "GROUP BY l_returnflag ORDER BY l_returnflag WITH ERROR 0.5")


def prepare(data_dir: str, seed: int) -> dict:
    """Generate the tables and stage their seeded slices: which rows go in
    which batch and their order within it come from the seed."""
    import datagen
    import pyarrow.parquet as pq
    datagen.write_tables(data_dir, N_ORDERS, N_EVENTS,
                         names=("lineitem", "events"))
    rng = np.random.default_rng([seed, 3])
    stage = os.path.join(data_dir, "stage")
    os.makedirs(stage)
    staged = {}
    for name in SCHEMAS:
        table = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        n = table.num_rows
        if name == "events":
            # events arrive in time order (the table is sorted by ts), cut
            # near equal sizes at seeded points; lineitem rows land in
            # seeded random batches
            step = n / N_BATCHES
            cuts = (np.arange(1, N_BATCHES) * step + rng.uniform(
                -step / 4, step / 4, N_BATCHES - 1)).astype(int)
            batch_of = np.searchsorted(cuts, np.arange(n), side="right")
        else:
            batch_of = rng.integers(0, N_BATCHES, n)
        files = []
        for b in range(N_BATCHES):
            rows = np.flatnonzero(batch_of == b)
            path = os.path.join(stage, f"{name}-{b:02d}.parquet")
            pq.write_table(table.take(rng.permutation(rows)), path)
            files.append(path)
        staged[name] = files
        os.makedirs(os.path.join(data_dir, "land", name))
    return {"dir": data_dir, "staged": staged,
            "land": {n: os.path.join(data_dir, "land", n) for n in SCHEMAS}}


def _session(spark, data: dict, rep: int):
    from snappy_aqp_spark.api import AQPSession
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing",
                     data_token=f"perfbench-stream-{rep}")
    aqp.sql(f"STREAMING INIT {TRIGGER}")
    for name, schema in SCHEMAS.items():
        aqp.sql(f"CREATE STREAM TABLE {name} ({schema}) USING file_stream "
                f"OPTIONS (path '{data['land'][name]}', format 'parquet')")
    aqp.sql(SAMPLE_DDL)
    aqp.sql(topk_ddl(topk_spec()))
    aqp.sql("STREAMING START")
    return aqp


def run(spark, tracer, data: dict, seed: int, seconds: float,
        session_start_s: float) -> dict:
    import pyarrow.parquet as pq
    t_run = now()
    setups = []
    for rep in range(SETUP_REPEATS):
        if rep:
            aqp.sql("STREAMING STOP")
        t0 = now()
        aqp = _session(spark, data, rep)
        setups.append(now() - t0)
    metrics = {"setup_s": session_start_s + median(setups),
               "spark.cached_mb.setup": cached_mb(spark)}

    qtext = query_text(seed)
    landed: dict[str, list[str]] = {n: [] for n in SCHEMAS}
    fresh_rows: list[tuple[int, list]] = []     # (batch, rows) per batch
    topk_rows = None
    lat = {c: [] for c in ("ingest", "fresh", "stream_hit", "topk",
                           "freshness", "cycle")}
    ingest_jobs, ingest_rows = [], 0
    attempted = failed = 0
    t_start = None
    probe = Probe(spark)

    def query(cls: str, text: str):
        return sql_op(tracer, aqp, cls, text)

    for b in range(N_BATCHES):
        timed = b >= WARMUP_BATCHES
        if timed and t_start is None:
            for _ in range(WARMUP_PROBES):
                probe(keep=False)
            t_start = now()
            tracer.timed = True
        if timed:
            probe()
        attempted += 3 + HITS_PER_BATCH
        try:
            rows_in = sum(pq.ParquetFile(data["staged"][n][b]).metadata
                          .num_rows for n in SCHEMAS)
            before = stream_job_ids(spark) if tracer.enabled else None
            with tracer.op("ingest"):
                t_land = now()
                with tracer.span("streaming.land"):
                    for n in SCHEMAS:
                        dst = os.path.join(data["land"][n],
                                           os.path.basename(
                                               data["staged"][n][b]))
                        os.rename(data["staged"][n][b], dst)
                        landed[n].append(dst)
                with tracer.span("streaming.process_all"):
                    aqp.streaming.process_all()
                ingest = (now() - t_land) * 1000.0
            if tracer.enabled and timed:
                ingest_jobs.append(len(stream_job_ids(spark) - before))
            fresh, dt_fresh = query("fresh", qtext)
            t_fresh = now()
            freshness = (t_fresh - t_land) * 1000.0
            if timed:
                probe()
            t_reads = now()
            hits = [query("stream_hit", qtext) for _ in range(HITS_PER_BATCH)]
            top, dt_top = query("topk", f"SELECT * FROM {topk_spec().name} "
                                        f"LIMIT {TOPK_K}")
            t_end = now()
        except Exception as exc:            # a failed cycle counts, run goes on
            failed += 3 + HITS_PER_BATCH
            print(f"perfbench: batch {b} failed: {exc!r}"[:500], flush=True)
            continue
        fresh_rows.append((b, rows_of(fresh)))
        topk_rows = rows_of(top)
        for hit, _ in hits:
            if rows_of(hit) != fresh_rows[-1][1]:
                failed += 1
                print(f"perfbench: batch {b} hit differs from fresh",
                      flush=True)
        if timed:
            ingest_rows += rows_in
            # landing .. TopK scan, without the mid-cycle probe
            lat["cycle"].append((t_fresh - t_land + t_end - t_reads) * 1000.0)
            for cls, dt in (("ingest", ingest), ("fresh", dt_fresh),
                            ("topk", dt_top), ("freshness", freshness)):
                lat[cls].append(dt)
            lat["stream_hit"] += [dt for _, dt in hits]
            if now() - t_start >= seconds:
                break
    wall = now() - t_start - probe.total_s if t_start is not None else 0.0
    t_checks = now()
    metrics["spark.cached_mb.end"] = cached_mb(spark)

    # output checks, outside the timed region
    snap_rows = {n: aqp.streaming.snapshot(n).count() for n in SCHEMAS}
    aqp.sql("STREAMING STOP")
    import duckdb
    con = duckdb.connect()
    for n, files in landed.items():
        want = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        attempted += 1
        if snap_rows[n] != want:
            failed += 1
            print(f"perfbench: {n} snapshot has {snap_rows[n]} rows, "
                  f"landed {want}", flush=True)
    oracle = oracle_sql(aqp, qtext)
    for b, got in fresh_rows:
        files = ", ".join(f"'{f}'" for f in landed["lineitem"][:b + 1])
        con.sql(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                f"read_parquet([{files}])")
        if duck_rows(con, oracle) != got:
            failed += 1
            print(f"perfbench: batch {b} answer differs from replay",
                  flush=True)
    from snappy_aqp_spark.topk.oracle import topk_oracle_sql
    files = ", ".join(f"'{f}'" for f in landed["events"])
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    attempted += 1
    if duck_rows(con, topk_oracle_sql(topk_spec(), "events", None, None,
                                      TOPK_K)) != topk_rows:
        failed += 1
        print("perfbench: final TopK differs from replay", flush=True)
    con.close()

    n_timed = len(lat["ingest"])
    k = probe.factor()
    ms = {cls: [t * k for t in v] for cls, v in lat.items()}
    metrics.update({
        "setup_s": metrics["setup_s"] * k,
        "op_success_ratio": (attempted - failed) / attempted,
        # reads per median cycle (landing .. end of the TopK scan)
        "queries_per_s": (2 + HITS_PER_BATCH) * 1000.0 / median(ms["cycle"]),
        "hit_p50_ms": median(ms["stream_hit"]),
        "miss_p50_ms": median(ms["fresh"]),
        "e2e.freshness_p50_ms": median(ms["freshness"]),
        "e2e.ingest_rows_per_s": ingest_rows / (sum(ms["ingest"]) / 1000.0),
        "e2e.topk_query_p50_ms": median(ms["topk"]),
        "host.probe_ms": probe.median_ms(),
    })
    print(f"perfbench: {n_timed} timed batches in {wall:.1f}s", flush=True)
    if tracer.enabled:
        layers = tracer.layer_ms()
        exec_fresh = median(layers.get(("spark.exec", "fresh"), []))
        exec_hit = median(layers.get(("spark.exec", "stream_hit"), []))
        metrics.update({
            "streaming.ingest_ms": median(
                layers.get(("streaming.process_all", "ingest"), [])),
            "streaming.jobs_per_batch": median(ingest_jobs),
            "api.sql_ms.fresh": median(layers.get(("api.sql", "fresh"), [])),
            "spark.plan_ms.fresh": median(
                layers.get(("spark.plan", "fresh"), [])),
            "spark.exec_ms.fresh": exec_fresh,
            "spark.jobs.fresh": median(
                r["jobs"] for r in tracer.timed_ops("fresh")),
            "spark.exec_ms.stream_hit": exec_hit,
            "sampling.resample_ms": exec_fresh - exec_hit,
            "topk.query_ms": median(tracer.op_ms("topk")),
        })
    phases = {"setups": sum(setups), "warmup": t_start - t_run - sum(setups),
              "timed": wall, "checks": now() - t_checks}
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "phase_s": phases}
