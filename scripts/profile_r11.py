"""Round-11 optimization profiler: per-query COLD + warm wall time, job
count and physical-plan capture for the bench's pipeline queries.

Usage:
    python scripts/profile_r11.py [query ...]        # default: round-11 set
    PROF_ITERS=4 PROF_PLANS=1 PROF_TAG=after python scripts/profile_r11.py pii_scan

Environment mirrors bench.py ($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS) so the
numbers are comparable with BENCH_full.json. Plans go to plans/r11/<q>_<tag>.txt
when PROF_PLANS is set (tag via PROF_TAG, default 'before').

cold = one timed iteration after clearing the session's ``final`` and
``pipeline`` caches (the prepared final plan and the pipeline-scoped
persisted stages; the ``index`` and ``labels`` caches are KEPT — indexes
are build-once by declared design). This attributes engine work rather than cache-serving (round-10
VERDICT item 1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
ITERS = int(os.environ.get("PROF_ITERS", "5"))
PLANS = os.environ.get("PROF_PLANS", "")
TAG = os.environ.get("PROF_TAG", "before")

R11 = ["pii_scan", "duplicate_spans", "ann_cosine_topk", "sessionize_events",
       "range_join_activity", "bloom_semi_join", "grouped_topk",
       "asof_join_clicks", "topk_cms_full", "topk_streamsummary",
       "dedup_lines", "bpe_pair_counts", "skew_salted_join"]


def _clear_pipeline_caches(spark):
    from snappy_aqp_spark.stage_cache import StageCache
    StageCache.of(spark).clear("pipeline")
    StageCache.of(spark).clear("final")


def main() -> None:
    names = sys.argv[1:] or R11
    b = (SparkSession.builder.master(f"local[{CPUS}]")
         .config("spark.sql.shuffle.partitions", CPUS)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "8g"))
    # conf experiments: PROF_CONF="key=val;key=val"
    for kv in filter(None, os.environ.get("PROF_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    spark = b.appName("profile-r11").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import __spark_entry__ as entry
    qs = entry.queries()
    tracker = sc.statusTracker()

    out = {}
    for name in names:
        if name == "cluster_labels_build":
            from snappy_aqp_spark.pipeline import clusters as _cl
            from snappy_aqp_spark.stage_cache import StageCache

            def once():
                StageCache.of(spark).clear("labels")
                spark.read.parquet(f"{SF_DIR}/documents.parquet") \
                    .createOrReplaceTempView("documents")
                _cl.cluster_labels(spark, data_token=SF_DIR).count()
            df_fn = None
        else:
            def once(name=name):
                qs[name](spark, SF_DIR).collect()
            df_fn = lambda name=name: qs[name](spark, SF_DIR)
        # prime fixture memos (sample builds, topk state, jsonl scaffolding)
        sc.setJobDescription(f"prime:{name}")
        once()
        # COLD: pipeline-scoped caches cleared, one timed iteration
        _clear_pipeline_caches(spark)
        group = f"prof_{name}_cold"
        sc.setJobGroup(group, name)
        t0 = time.time()
        once()
        cold = time.time() - t0
        cold_jobs = len(tracker.getJobIdsForGroup(group))
        times = []
        jobs = []
        for i in range(ITERS):
            group = f"prof_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            once()
            times.append(time.time() - t0)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
        sc.setJobGroup("", "")
        med = statistics.median(times)
        out[name] = {"cold": round(cold, 3), "cold_jobs": cold_jobs,
                     "med": round(med, 3), "min": round(min(times), 3),
                     "jobs": jobs[-1]}
        print(f"{name:28s} cold={cold:7.3f}/{cold_jobs}j "
              f"med={med:7.3f} min={min(times):7.3f} jobs/iter={jobs}",
              flush=True)
        if PLANS and df_fn is not None:
            os.makedirs("plans/r11", exist_ok=True)
            import io
            import contextlib
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df_fn().explain("formatted")
            txt = buf.getvalue()
            with open(f"plans/r11/{name}_{TAG}.txt", "w") as f:
                f.write(txt)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
