"""Ingest-layer operators: malformed-row quarantine, schema-merge scans,
small-file compaction.

Real 100 TB corpora arrive as billions of JSONL/CSV lines with a tail of
malformed records, schema drift between drops, and pathological file-size
distributions. These operators are the Spark-first versions of that intake
layer (the reference's external-table ingest path feeds its samplers the
same way — aqpUtils.scala external relation scans):

- **jsonl_ingest_quarantine** — PERMISSIVE parse with an explicit schema
  and ``columnNameOfCorruptRecord``: malformed lines land in a corrupt
  column instead of killing the job, parsed rows flow on. One pass, no
  Python in the path; quarantine is just another group in the output.
- **schema_merge_scan** — ``mergeSchema=true`` parquet read across drops
  whose schemas drifted (a later drop added a column); old files surface
  NULLs for the new column. The fixture aggregates null counts per source
  so the merge semantics themselves are value-checked.
- **compact_small_files** — rewrite a many-small-files table into few
  size-targeted files (one ``repartition(n)`` by target size estimate):
  at scale, small files destroy scan throughput (per-file open cost,
  scheduler pressure) and compaction is a standing maintenance job.
  Row-identical by construction; the pytest asserts the file-count drop.

Determinism: corruption/drift are PLANTED by id-derived rules, so every
output — including the quarantine count — replays as plain SQL over the
source table in DuckDB.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from ..stage_cache import StageCache, scratch_dir


def _jsonl_events_path(spark: SparkSession, sf_dir: str) -> str:
    """events as JSONL with every (event_id % 13 == 0) line truncated
    mid-record — deterministic malformed-line planting."""
    return StageCache.of(spark).build(
        "scratch_path", ("jsonl", sf_dir),
        lambda: _write_jsonl_events(spark, sf_dir))


def _write_jsonl_events(spark: SparkSession, sf_dir: str) -> str:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rows = (spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .toPandas())
    p = scratch_dir("aqp-jsonl-")
    n_shards = 4
    handles = [open(os.path.join(p, f"part-{i}.jsonl"), "w")
               for i in range(n_shards)]
    for r in rows.itertuples(index=False):
        line = json.dumps({"event_id": int(r.event_id),
                           "user_id": int(r.user_id),
                           "event_type": r.event_type,
                           "value": float(r.value)})
        if r.event_id % 13 == 0:
            line = line[:max(1, len(line) * 2 // 3)]   # malformed tail
        handles[int(r.event_id) % n_shards].write(line + "\n")
    for h in handles:
        h.close()
    return p


_JSONL_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("_corrupt_record", StringType()),
])


def jsonl_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSONL drop under an explicit schema; malformed lines
    become the ``__quarantined`` bucket, parsed rows aggregate per type."""
    path = _jsonl_events_path(spark, sf_dir)
    raw = (spark.read.schema(_JSONL_SCHEMA)
           .option("mode", "PERMISSIVE")
           .option("columnNameOfCorruptRecord", "_corrupt_record")
           .json(path))
    return (raw.withColumn(
                "bucket",
                F.when(F.col("_corrupt_record").isNotNull(),
                       F.lit("__quarantined"))
                .otherwise(F.col("event_type")))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.coalesce(F.sum(F.when(F.col("_corrupt_record").isNull(),
                                         F.round(F.col("value") * 100)
                                         .cast("bigint"))), F.lit(0))
                 .cast("bigint").alias("value_cents"))
            .orderBy("bucket"))


def jsonl_quarantine_oracle_sql() -> str:
    """Replay from the source table: the corruption rule is id-derived."""
    return (
        "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COALESCE(SUM(CASE WHEN bucket <> '__quarantined' "
        "THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) "
        "AS value_cents FROM ("
        "SELECT CASE WHEN event_id % 13 = 0 THEN '__quarantined' "
        "ELSE event_type END AS bucket, value FROM events) __b "
        "GROUP BY bucket ORDER BY bucket")


def _drifted_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """two parquet drops with schema drift: drop B adds a ``quality``
    column (id-derived so the replay is deterministic)."""
    def write() -> str:
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "source", "n_chars"))
        p = scratch_dir("aqp-drift-") + "/documents"
        docs.where("doc_id % 2 = 0").coalesce(1) \
            .write.mode("overwrite").parquet(f"{p}/drop=a")
        (docs.where("doc_id % 2 = 1")
         .withColumn("quality",
                     (F.col("n_chars") % 100).cast("double") / 100.0)
         .coalesce(1).write.mode("overwrite").parquet(f"{p}/drop=b"))
        return p
    return StageCache.of(spark).build("scratch_path", ("drift", sf_dir),
                                      write)


def schema_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema read across the drifted drops: old files surface NULL
    for the added column; per-source null counts + quality cents."""
    path = _drifted_documents_path(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(path)
    return (df.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("quality").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_missing_quality"),
                 F.coalesce(F.sum(F.round(F.col("quality") * 100)
                                  .cast("bigint")), F.lit(0)).cast("bigint")
                 .alias("quality_cents"))
            .orderBy("source"))


def schema_merge_oracle_sql() -> str:
    return (
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_missing_quality, "
        "CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN "
        "CAST(ROUND(CAST(n_chars % 100 AS DOUBLE) / 100.0 * 100) AS BIGINT) "
        "END), 0) AS BIGINT) AS quality_cents "
        "FROM documents GROUP BY source ORDER BY source")


def compact_small_files(spark: SparkSession, sf_dir: str,
                        small_files: int = 64,
                        target_bytes: int = 8 * 1024 * 1024,
                        ) -> tuple[DataFrame, int, int]:
    """Rewrite a fragmented table into size-targeted files.

    Returns (scan over the compacted copy, n files before, n files after).
    The target file count is total-bytes / target_bytes (>= 1) — at scale
    this runs per partition as a standing maintenance job; a single
    ``repartition(n)`` round-robin shuffle is the whole plan.
    """
    # the FRAGMENTED input is fixture scaffolding (the pathological layout
    # the operator exists to fix), not the operator's work — synthesize it
    # once per (sf_dir, small_files) like the jsonl/drift fixtures above;
    # the measured compaction (read -> size -> repartition -> write) still
    # runs in full on every call
    def write() -> str:
        frag = scratch_dir("aqp-compact-") + "/fragmented"
        spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .repartition(small_files).write.mode("overwrite").parquet(frag)
        return frag
    frag = StageCache.of(spark).build(
        "scratch_path", ("frag", sf_dir, small_files), write)
    base = scratch_dir("aqp-compact-")
    fragged = spark.read.parquet(frag)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    total = sum(os.path.getsize(os.path.join(frag, f))
                for f in os.listdir(frag) if f.endswith(".parquet"))
    n_target = max(1, math.ceil(total / target_bytes))
    compacted = f"{base}/compacted"
    fragged.repartition(n_target).write.mode("overwrite").parquet(compacted)
    n_after = len([f for f in os.listdir(compacted)
                   if f.endswith(".parquet")])
    return spark.read.parquet(compacted), n_before, n_after


def compact_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-fixture wrapper: aggregate over the compacted copy — the
    answer must be identical to the source table (compaction is layout
    only)."""
    df, _, _ = compact_small_files(spark, sf_dir)
    return (df.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.col("n_chars").cast("bigint")).cast("bigint")
                 .alias("chars"))
            .orderBy("source"))


def compact_scan_oracle_sql() -> str:
    return ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars "
            "FROM documents GROUP BY source ORDER BY source")
