"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_sql --seed 1 \
        --seconds 20 --trace 0

Run from the root of a source checkout. Each run starts a fresh JVM on
``local[4]``, drives one workload with one client thread in a closed loop
for ``--seconds``, checks every answer against a DuckDB replay, and prints
as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end set; with ``--trace 1``
the same workload runs with spans around every layer boundary and the
metrics are the per-layer set (spans are written once, at the end, under
``.perfbench_out/``). The line before the result is an environment stamp.
All per-run state (data, stream files, Spark and Python temp dirs) lives in
a per-run directory under ``.perfbench_run/`` that is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
WORKLOADS = {"interactive_sql": "interactive", "stream_ingest": "stream"}

END_TO_END = ("setup_s", "peak_rss_mb", "op_success_ratio", "queries_per_s",
              "hit_p50_ms", "miss_p50_ms")
# Every traced run reports every per-layer metric; a layer a workload does
# not touch reads 0. Classes of the interactive mix:
SQL_CLASSES = ("cf_hit", "bs_hit", "miss", "reroute", "exact")
PER_LAYER = (
    [f"{m}.{c}" for m in ("sql.analyze_ms", "api.sql_ms", "spark.plan_ms",
                          "spark.exec_ms", "spark.jobs", "spark.stages",
                          "spark.tasks", "op_ms")
     for c in SQL_CLASSES]
    + ["sampling.build_s.lineitem", "sampling.build_s.orders",
       "streaming.ingest_ms", "streaming.jobs_per_batch",
       "api.sql_ms.fresh", "spark.plan_ms.fresh", "spark.exec_ms.fresh",
       "spark.jobs.fresh", "spark.exec_ms.stream_hit",
       "sampling.resample_ms", "topk.query_ms",
       "spark.cached_mb.setup", "spark.cached_mb.end",
       "trace.unattributed_pct_max", "host.probe_ms",
       "e2e.queries_per_s", "e2e.hit_p50_ms", "e2e.miss_p50_ms",
       "e2e.cf_hit_p90_ms", "e2e.bs_hit_p50_ms", "e2e.reroute_p50_ms",
       "e2e.exact_p50_ms", "e2e.freshness_p50_ms", "e2e.ingest_rows_per_s",
       "e2e.topk_query_p50_ms"])
# first matching fragment of the name decides the unit
UNITS = (("_per_s", "1/s"), ("_ms", "ms"), ("_pct", "%"), ("_mb", "MB"),
         ("_ratio", "ratio"), ("jobs", "count"), ("stages", "count"),
         ("tasks", "count"), ("_s", "s"))


def unit_of(name: str) -> str:
    return next(u for frag, u in UNITS if frag in name)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_program() -> None:
    """The benchmark measures the program of THIS checkout: refuse to run
    where it is missing rather than pick up another copy."""
    for rel in ("snappy_aqp_spark/api.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from "
                     f"the root of a source checkout")


def _isolate(run_dir: str) -> None:
    """Point every temp-file user at the per-run directory: Python's
    tempfile (the program's mkdtemp state), the Python workers Spark
    forks (they inherit the environment) and the JVM (via Spark conf)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _start_spark(conf: dict[str, str]):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the SparkContext, then end the JVM and wait for it: closing its
    stdin is the gateway's own exit signal."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this Python process's."""
    import resource
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def _tree_hash() -> str:
    """Content hash of the program's sources, so a result names the code
    it measured even where the checkout is not a git repository."""
    import hashlib
    h = hashlib.sha1()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT,
                                                   "snappy_aqp_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files)
                  if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def env_stamp(args, conf, load_before) -> dict:
    import pyspark
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "loadavg_before": load_before,
            "loadavg_after": list(os.getloadavg()),
            "git_commit": _git_commit(), "tree_hash": _tree_hash(),
            "pyspark": pyspark.__version__, "spark_conf": conf,
            "python": sys.version.split()[0]}


def main(argv=None) -> int:
    args = _parse_args(argv)
    _check_program()
    load_before = list(os.getloadavg())
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    phases = {"start": time.perf_counter()}
    try:
        _isolate(run_dir)
        sys.path.insert(0, HERE)
        import importlib
        workload = importlib.import_module(WORKLOADS[args.workload])
        data = workload.prepare(os.path.join(run_dir, "data"), args.seed)
        phases["prepare"] = time.perf_counter()
        conf = _spark_conf(run_dir)
        spark = _start_spark(conf)
        from harness import Tracer
        tracer = Tracer(spark, enabled=bool(args.trace))
        phases["session"] = time.perf_counter()
        res = workload.run(
            spark, tracer, data, args.seed, args.seconds,
            session_start_s=phases["session"] - phases["prepare"])
        phases["workload"] = time.perf_counter()
        res["metrics"]["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            res["metrics"]["trace.unattributed_pct_max"] = (
                100.0 * tracer.unattributed_share())
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.json"),
                    "w") as f:
                json.dump({"spans": tracer.spans, "ops": tracer.ops}, f)
        stamp = env_stamp(args, conf, load_before)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    phases["stop"] = time.perf_counter()
    marks = list(phases.items())
    stamp["phase_s"] = {k: round(t - marks[i][1], 2)
                        for i, (k, t) in enumerate(marks[1:])}
    stamp["workload_phase_s"] = {k: round(v, 2)
                                 for k, v in res["phase_s"].items()}

    if args.trace:
        for n in END_TO_END:
            if n in res["metrics"]:
                res["metrics"][f"e2e.{n}"] = res["metrics"][n]
    names = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": float(res["metrics"].get(n, 0.0)),
                   "unit": unit_of(n)} for n in names}
    print("perfbench-env " + json.dumps(stamp), flush=True)
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          flush=True)
    return 0



if __name__ == "__main__":
    sys.exit(main())
