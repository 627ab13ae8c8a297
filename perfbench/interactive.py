"""interactive_sql: a seeded mix of WITH ERROR texts over two samples.

Classes (each op is ``AQPSession.sql(text).collect()``):

- ``cf_hit``  repeated closed-form texts with aliased error functions:
              global SUM, grouped SUM/AVG/COUNT, WHERE, the join with
              orders, ``local_omit``, and the orders sample
- ``bs_hit``  repeated AVG + WHERE texts, which route to bootstrap
- ``miss``    first occurrence of a closed-form text (fresh constants)
- ``reroute`` ``run_on_full_table`` / ``partial_run_on_base_table`` under an
              error bound the sample cannot meet
- ``exact``   the ``cf_hit`` texts without error functions or WITH clause

The seed picks the constants of every text and the sequence of miss
texts. A fixed warm-up runs every ``cf_hit`` text and one miss before
timing starts; the other classes' first runs fall at the same places of
the timed loop in every run. Answers are checked once per distinct text against a DuckDB
replay (outside the timed region), and every repeat of a text must return
the rows of its first run.
"""

from __future__ import annotations

import os

import numpy as np

from harness import (Probe, cached_mb, duck_rows, median, now, oracle_sql,
                     percentile, rows_of, sql_op)

N_ORDERS = 25_000            # ~100k lineitem rows
SETUP_REPEATS = 3
WARMUP_MISSES = 1
WARMUP_PROBES = 3
# one block of the closed loop (~9 s on 4 cores), weighted toward the
# classes the end-to-end metrics read and interleaved so that any prefix of
# a block (the run ends mid-block) has about the same mix
BLOCK = ("cf_hit", "miss", "cf_hit", "exact", "cf_hit", "miss", "bs_hit",
         "cf_hit", "miss", "exact", "cf_hit", "miss", "cf_hit", "reroute")
PROBE_EVERY = 4              # host probe before every 4th op of a block
SAMPLE_DDL = {
    "lineitem": ("CREATE SAMPLE TABLE li_sample ON lineitem OPTIONS("
                 "qcs 'l_returnflag,l_linestatus', fraction '0.05', "
                 "method 'hash', seed '42')"),
    "orders": ("CREATE SAMPLE TABLE o_sample ON orders OPTIONS("
               "qcs 'o_orderpriority', fraction '0.1', method 'hash', "
               "seed '42')"),
}
ROUTES = {"cf_hit": "closed_form", "miss": "closed_form",
          "bs_hit": "bootstrap", "reroute": "closed_form"}


def text(select, errfns, frm, where=None, group=None, with_=None) -> str:
    """Assemble a query; ``errfns`` and ``with_`` are dropped for the exact
    twin by passing None."""
    items = ", ".join(select + (errfns or []))
    q = f"SELECT {items} FROM {frm}"
    if where:
        q += f" WHERE {where}"
    if group:
        q += f" GROUP BY {group} ORDER BY {group}"
    if with_:
        q += f" WITH ERROR {with_}"
    return q


def cf_shapes(rng) -> list[dict]:
    """The closed-form shapes, constants drawn from ``rng``."""
    lo = int(rng.integers(1, 15))
    hi = int(rng.integers(30, 51))
    disc = int(rng.integers(3, 9))
    err = ("0.3", "0.4", "0.5")[int(rng.integers(0, 3))]
    return [
        dict(select=["SUM(l_quantity) AS sq"],
             errfns=["absolute_error(sq) AS ae", "relative_error(sq) AS re"],
             frm="lineitem", with_=err),
        dict(select=["l_returnflag", "SUM(l_quantity) AS sq",
                     "AVG(l_quantity) AS aq", "COUNT(*) AS c"],
             errfns=["relative_error(sq) AS re", "lower_bound(c) AS lb"],
             frm="lineitem", group="l_returnflag", with_=err),
        dict(select=["l_linestatus", "SUM(l_quantity) AS sq"],
             errfns=["absolute_error(sq) AS ae"], frm="lineitem",
             where=f"l_quantity BETWEEN {lo} AND {hi}",
             group="l_linestatus", with_=err),
        dict(select=["o_orderpriority", "SUM(l_quantity) AS sq"],
             errfns=["absolute_error(sq) AS ae"],
             frm="lineitem JOIN orders ON l_orderkey = o_orderkey",
             group="o_orderpriority", with_=err),
        dict(select=["l_returnflag, l_linestatus", "SUM(l_quantity) AS sq"],
             errfns=["relative_error(sq) AS re"], frm="lineitem",
             where=f"l_discount < 0.0{disc}",
             group="l_returnflag, l_linestatus",
             with_="0.05 BEHAVIOR 'local_omit'"),
        dict(select=["o_orderpriority", "COUNT(*) AS c"],
             errfns=["absolute_error(c) AS ae"], frm="orders",
             group="o_orderpriority", with_=err),
    ]


def bs_texts(rng) -> list[str]:
    q = int(rng.integers(5, 30))
    return [text(["l_returnflag", "AVG(l_quantity) AS aq"],
                 ["lower_bound(aq) AS lb", "upper_bound(aq) AS ub"],
                 "lineitem", where=f"l_quantity > {q}",
                 group="l_returnflag", with_="0.5"),
            text(["l_linestatus", "AVG(l_discount) AS ad"],
                 ["absolute_error(ad) AS ae"], "lineitem",
                 where=f"l_quantity <= {q + 10}", group="l_linestatus",
                 with_="0.5")]


def reroute_texts(rng) -> list[str]:
    lo = int(rng.integers(1, 10))
    return [text(["l_returnflag", "SUM(l_quantity) AS sq"],
                 ["relative_error(sq) AS re"], "lineitem",
                 where=f"l_quantity >= {lo}", group="l_returnflag",
                 with_="0.0001 BEHAVIOR 'run_on_full_table'"),
            text(["l_returnflag, l_linestatus", "SUM(l_quantity) AS sq"],
                 ["relative_error(sq) AS re"], "lineitem",
                 where=f"l_quantity >= {lo}",
                 group="l_returnflag, l_linestatus",
                 with_="0.001 BEHAVIOR 'partial_run_on_base_table'")]


def miss_texts(rng, taken: set[str]):
    """Endless first-occurrence texts: the WHERE shape with constants never
    used before in this run."""
    pairs = [(lo, hi) for lo in range(1, 25) for hi in range(26, 51)]
    for i in rng.permutation(len(pairs)):
        lo, hi = pairs[i]
        t = text(["l_linestatus", "SUM(l_quantity) AS sq"],
                 ["absolute_error(sq) AS ae"], "lineitem",
                 where=f"l_quantity BETWEEN {lo} AND {hi}",
                 group="l_linestatus", with_="0.5")
        if t not in taken:
            yield t


def prepare(data_dir: str, seed: int) -> dict:
    import datagen
    datagen.write_tables(data_dir, N_ORDERS, 0,
                         names=("lineitem", "orders"))
    return {"dir": data_dir}


def _session(spark, data_dir: str, rep: int):
    from snappy_aqp_spark.api import AQPSession
    aqp = AQPSession(spark, error=0.2, confidence=0.95,
                     behavior="do_nothing", data_token=f"perfbench-{rep}")
    aqp.load_tables(data_dir, ("lineitem", "orders"))
    build = {}
    for base, ddl in SAMPLE_DDL.items():
        t0 = now()
        aqp.sql(ddl)
        build[base] = now() - t0
    return aqp, build


def run(spark, tracer, data: dict, seed: int, seconds: float,
        session_start_s: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    t_run = now()
    # set-up repeated in fresh sessions; the last one serves the queries
    setups, builds = [], {b: [] for b in SAMPLE_DDL}
    for rep in range(SETUP_REPEATS):
        t0 = now()
        aqp, build = _session(spark, data["dir"], rep)
        setups.append(now() - t0)
        for b, s in build.items():
            builds[b].append(s)
    metrics = {"setup_s": session_start_s + median(setups),
               "spark.cached_mb.setup": cached_mb(spark)}
    for b, s in builds.items():
        metrics[f"sampling.build_s.{b}"] = median(s)

    shapes = cf_shapes(rng)
    pools = {"cf_hit": [text(**s) for s in shapes],
             "exact": [text(**dict(s, errfns=None, with_=None))
                       for s in shapes],
             "bs_hit": bs_texts(rng), "reroute": reroute_texts(rng)}
    misses = miss_texts(rng, set(pools["cf_hit"]))
    for cls, pool in pools.items():
        for t in pool:
            an = aqp.analyze_sql(t)
            route = None if an is None or an.spec is None else (
                an.spec.estimator)
            if route != ROUTES.get(cls):
                raise RuntimeError(f"{cls} text routes to {route}: {t}")
    cursor = {cls: 0 for cls in pools}

    def next_text(cls: str) -> str:
        if cls == "miss":
            return next(misses)
        pool = pools[cls]
        t = pool[cursor[cls] % len(pool)]
        cursor[cls] += 1
        return t

    first_rows: dict[str, list] = {}
    lat: dict[str, list[float]] = {c: [] for c in BLOCK}
    attempted = failed = 0

    def one(cls: str, timed: bool) -> None:
        nonlocal attempted, failed
        t = next_text(cls)
        attempted += 1
        if tracer.enabled:
            with tracer.span("sql.analyze", cls):
                aqp.analyze_sql(t)
        try:
            rows, dt_ms = sql_op(tracer, aqp, cls, t)
        except Exception as exc:          # a failed op counts, run goes on
            failed += 1
            print(f"perfbench: {cls} failed: {exc!r}"[:500], flush=True)
            return
        got = rows_of(rows)
        if first_rows.setdefault(t, got) != got:
            failed += 1
            print(f"perfbench: {cls} repeat differs: {t}", flush=True)
            return
        if timed:
            lat[cls].append(dt_ms)

    for _ in pools["cf_hit"]:
        one("cf_hit", timed=False)
    for _ in range(WARMUP_MISSES):
        one("miss", timed=False)
    probe = Probe(spark)
    for _ in range(WARMUP_PROBES):
        probe(keep=False)
    tracer.timed = True
    t_start = now()
    while now() - t_start < seconds:
        for i, cls in enumerate(BLOCK):
            if i % PROBE_EVERY == 0:
                probe()
            one(cls, timed=True)
            if now() - t_start >= seconds:
                break
    wall = now() - t_start - probe.total_s
    t_checks = now()

    # output checks: each distinct text once against its DuckDB replay
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(data['dir'], t)}.parquet')")
    for t, got in first_rows.items():
        want = duck_rows(con, oracle_sql(aqp, t))
        if want != got:
            failed += 1
            print(f"perfbench: answer differs from replay: {t}", flush=True)
    con.close()

    k = probe.factor()
    ms = {cls: [t * k for t in v] for cls, v in lat.items()}
    metrics.update({
        "setup_s": metrics["setup_s"] * k,
        "op_success_ratio": (attempted - failed) / attempted,
        "queries_per_s": sum(len(v) for v in lat.values()) / wall / k,
        "hit_p50_ms": median(ms["cf_hit"]),
        "miss_p50_ms": median(ms["miss"]),
        "e2e.cf_hit_p90_ms": percentile(ms["cf_hit"], 0.9),
        "e2e.bs_hit_p50_ms": median(ms["bs_hit"]),
        "e2e.reroute_p50_ms": median(ms["reroute"]),
        "e2e.exact_p50_ms": median(ms["exact"]),
        "host.probe_ms": probe.median_ms(),
        "spark.cached_mb.end": cached_mb(spark),
    })
    print(f"perfbench: timed ops per class "
          f"{ {c: len(v) for c, v in lat.items()} } in {wall:.1f}s",
          flush=True)
    if tracer.enabled:
        metrics.update(layer_metrics(tracer))
    phases = {"setups": sum(setups), "warmup": t_start - t_run - sum(setups),
              "timed": wall, "checks": now() - t_checks}
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "phase_s": phases}


def layer_metrics(tracer) -> dict:
    out = {}
    layers = tracer.layer_ms()
    span_of = {"sql.analyze_ms": "sql.analyze", "api.sql_ms": "api.sql",
               "spark.plan_ms": "spark.plan", "spark.exec_ms": "spark.exec"}
    for cls in set(BLOCK):
        for metric, span in span_of.items():
            out[f"{metric}.{cls}"] = median(layers.get((span, cls), []))
        ops = tracer.timed_ops(cls)
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}.{cls}"] = median(r[k] for r in ops)
        out[f"op_ms.{cls}"] = median(tracer.op_ms(cls))
    return out
