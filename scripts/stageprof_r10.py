"""Per-stage attribution for one bench query: run it a few times with the
Spark UI enabled and dump stage durations/task counts from the REST API.

Usage: python scripts/stageprof_r10.py <query> [iters]
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    name = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", CPUS)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "8g")
             .appName("stageprof-r10").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry
    qs = entry.queries()

    def once():
        if name == "cluster_labels_build":
            from snappy_aqp_spark.pipeline import clusters as _cl
            from snappy_aqp_spark.stage_cache import StageCache
            StageCache.of(spark).clear("labels")
            spark.read.parquet(f"{SF_DIR}/documents.parquet") \
                .createOrReplaceTempView("documents")
            _cl.cluster_labels(spark, data_token=SF_DIR).count()
        else:
            qs[name](spark, SF_DIR).collect()

    once()  # warm
    app = spark.sparkContext.applicationId
    base = f"http://localhost:4040/api/v1/applications/{app}"
    with urllib.request.urlopen(f"{base}/stages") as r:
        before = {s["stageId"] for s in json.load(r)}
    t0 = time.time()
    for _ in range(iters):
        once()
    wall = time.time() - t0
    time.sleep(1.0)
    with urllib.request.urlopen(f"{base}/stages") as r:
        stages = json.load(r)
    with urllib.request.urlopen(f"{base}/jobs") as r:
        jobs = json.load(r)
    new = [s for s in stages if s["stageId"] not in before]
    agg: dict[str, list[float]] = {}
    for s in new:
        if s.get("status") not in ("COMPLETE", "SKIPPED"):
            continue
        key = s.get("name", "?").split("\n")[0]
        dur = 0.0
        if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
            from datetime import datetime
            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            try:
                a = datetime.strptime(s["firstTaskLaunchedTime"][:-3], fmt[:-2])
                b = datetime.strptime(s["completionTime"][:-3], fmt[:-2])
                dur = (b - a).total_seconds()
            except Exception:
                dur = 0.0
        ex = s.get("executorRunTime", 0) / 1000.0
        agg.setdefault(key, [0, 0.0, 0.0, 0])
        agg[key][0] += 1
        agg[key][1] += dur
        agg[key][2] += ex
        agg[key][3] += s.get("numTasks", 0)
    print(f"query={name} iters={iters} wall={wall:.2f}s "
          f"({wall/iters:.3f}/iter) new_stages={len(new)} "
          f"jobs_total={len(jobs)}")
    print(f"{'stage callsite':55s} {'n':>3s} {'wall_s':>8s} "
          f"{'exec_s':>8s} {'tasks':>6s}")
    for k, (n, d, ex, nt) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"{k[:55]:55s} {n:3d} {d:8.2f} {ex:8.2f} {nt:6d}")
    spark.stop()


if __name__ == "__main__":
    main()
