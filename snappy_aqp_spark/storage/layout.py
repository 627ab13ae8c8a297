"""Storage-layout operators: bucketed co-located joins and partition-pruned
scans.

The reference engine co-partitions a sample table with its base table so
that scans and joins reuse the base table's partitioning instead of
redistributing rows (ColumnFormatSamplingRelation.scala:98-100
``getColocatedTable``/``isCopartitionedWithBaseTable``;
SampledCachedRDD.scala:36-48 adopts ``colocatedPartitions`` verbatim so the
sample RDD is partition-aligned with the base). The Spark-first analog is
declared storage layout:

- **Bucketing** (``DataFrameWriter.bucketBy``): both join sides are hashed
  into the same number of buckets on the join key AT WRITE TIME, so the
  join's children already satisfy ``HashClusteredDistribution`` and the
  SortMergeJoin plans with ZERO Exchange — the decisive layout at 100 TB,
  where re-shuffling a fact table costs more than the join itself. With
  ``sortBy`` the per-bucket sort is also pre-paid.
- **Partition pruning** (``DataFrameWriter.partitionBy``): low-cardinality
  filter columns become directory levels; a filter on them prunes whole
  directories at PLANNING time (visible as ``PartitionFilters`` in the
  scan node), so a 100 TB corpus filtered to one source reads only that
  source's files.

Both are pure layout: results are byte-identical to the unbucketed /
unpartitioned plans (the fixtures' DuckDB oracles are the plain queries),
only the physical plan changes — asserted via ``exchange_count`` /
``partitioned_files_read``.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..stage_cache import StageCache, scratch_dir


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange operators in the final (possibly AQE-replanned)
    physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an executed AQE plan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — count only the final one
    plan = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in plan.splitlines() if "Exchange" in line
               and "ReusedExchange" not in line
               and "AQEShuffleRead" not in line
               and "ShuffleQueryStage" not in line)


def write_bucketed(spark: SparkSession, df: DataFrame, table: str,
                   key: str, n_buckets: int, path: str,
                   sort: bool = True) -> None:
    """Persist ``df`` as a bucketed (and per-bucket sorted) catalog table.

    Bucket metadata lives in the session catalog, so readers recover the
    layout via ``spark.table`` — reading the parquet path directly would
    lose it (plain files carry no bucket spec).
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (df.write.mode("overwrite")
              .option("path", os.path.join(path, table))
              .bucketBy(n_buckets, key))
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def bucketed_tables(spark: SparkSession, sf_dir: str,
                    n_buckets: int = 8) -> tuple[str, str]:
    """lineitem + orders written bucketed by the order key (once per
    (session, sf_dir); later calls reuse the catalog tables). Returns the
    two table names."""
    tag = f"b{n_buckets}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    li, od = f"lineitem_{tag}", f"orders_{tag}"

    def write() -> str:
        base = scratch_dir("aqp-bucketed-")
        for name, t, k in ((li, "lineitem", "l_orderkey"),
                           (od, "orders", "o_orderkey")):
            write_bucketed(spark, spark.read.parquet(f"{sf_dir}/{t}.parquet"),
                           name, k, n_buckets, base)
        return base
    StageCache.of(spark).build("scratch_path",
                               ("bucketed", sf_dir, n_buckets), write)
    return li, od


def colocated_join_revenue(spark: SparkSession, sf_dir: str,
                           n_buckets: int = 8) -> DataFrame:
    """Revenue by order status through the bucket-co-located join.

    The join key matches the bucket key on BOTH sides, so the SortMergeJoin
    runs without any Exchange below it (asserted in pytest); the only
    shuffle in the whole query is the final tiny group-by. The MERGE hint
    pins the sort-merge strategy so the plan demonstrates the layout the
    way a 100 TB fact-fact join would run (neither side broadcastable).

    Money math uses the portable cents convention so the DuckDB replay is
    bit-exact.
    """
    li, od = bucketed_tables(spark, sf_dir, n_buckets)
    return spark.sql(
        "SELECT /*+ MERGE(l) */ "
        "o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items, "
        "CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) "
        "AS BIGINT) AS revenue_cents "
        f"FROM {li} l JOIN {od} o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus")


def colocated_join_oracle_sql() -> str:
    """DuckDB replay: the identical query over the plain parquet views —
    bucketing is layout only, the answer must not change."""
    return ("SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items, "
            "CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) "
            "AS BIGINT) AS revenue_cents "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus")


def write_partitioned(spark: SparkSession, df: DataFrame, path: str,
                      partition_col: str) -> None:
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def _partitioned_documents(spark: SparkSession, sf_dir: str) -> str:
    def write() -> str:
        path = scratch_dir("aqp-partitioned-") + "/documents"
        write_partitioned(spark,
                          spark.read.parquet(f"{sf_dir}/documents.parquet"),
                          path, "source")
        return path
    return StageCache.of(spark).build("scratch_path",
                                      ("partitioned", sf_dir), write)


def pruned_scan(spark: SparkSession, sf_dir: str,
                sources: tuple[str, ...] = ("src3", "src7")) -> DataFrame:
    """The source-partitioned corpus filtered to ``sources`` — the filter
    lands in the scan's PartitionFilters, so only those directories are
    read (asserted via ``partitioned_files_read`` in pytest)."""
    path = _partitioned_documents(spark, sf_dir)
    docs = spark.read.parquet(path)
    return docs.where(docs.source.isin(*sources))


def partition_pruned_counts(spark: SparkSession, sf_dir: str,
                            sources: tuple[str, ...] = ("src3", "src7"),
                            ) -> DataFrame:
    """Per-source character totals over the partition-pruned scan."""
    pruned_scan(spark, sf_dir, sources) \
        .createOrReplaceTempView("__docs_partitioned")
    return spark.sql(
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars "
        "FROM __docs_partitioned "
        "GROUP BY source ORDER BY source")


def partition_pruned_oracle_sql(sources: tuple[str, ...] = ("src3", "src7"),
                                ) -> str:
    src_list = ", ".join(f"'{s}'" for s in sources)
    return ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars "
            f"FROM documents WHERE source IN ({src_list}) "
            "GROUP BY source ORDER BY source")


def partitioned_files_read(df: DataFrame) -> int:
    """Number of distinct files a scan ACTUALLY reads — execution-time
    proof of partition pruning (``inputFiles()`` lists the whole relation
    pre-pruning, so it cannot show the effect)."""
    from pyspark.sql import functions as F
    return (df.select(F.input_file_name().alias("f"))
            .distinct().count())
