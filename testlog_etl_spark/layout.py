"""Physical table layout for 100 TB scale: bucketing and date partitions.

The reference's only layout levers are S3 key schemes and Elasticsearch
daily rollover indexes (activedata_etl/sinks/multi_day_index.py shape).
At Spark scale the equivalents are first-class:

- **Date partitioning** (`write_date_partitioned`): the rollover-index
  analog. Queries filtering on the partition column scan only matching
  directories (static pruning); joins against a filtered dim prune at
  runtime via dynamic partition pruning (DPP) -- both verified by plan
  tests, both the difference between scanning 100 TB and scanning one
  day's slice.

- **Bucketing** (`write_bucketed`): pre-shuffles a table ONCE at write
  time into N hash buckets on the join/agg key. Two tables bucketed the
  same way join with ZERO runtime exchange -- on a 1000-executor
  cluster this turns every recurring fact-fact join (orders><lineitem)
  from a full 100 TB shuffle into a local merge per bucket. Rule of
  thumb: pick n_buckets so one bucket of the big table is ~100-500 MB
  (e.g. 100 TB / 256 MB ~ 400k buckets is too many files -- bucket the
  *daily partition* instead: ~300 GB/day / 256 MB ~ 1024 buckets/day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write `df` as an external bucketed table (hive-compatible layout).

    Sorting within buckets (`sort_cols`, usually = bucket_cols) lets the
    downstream sort-merge join skip its sort too.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_date_partitioned(df: DataFrame, path: str, date_col: str, source_col) -> None:
    """Write parquet partitioned by a derived date column (the rollover-
    index analog; one directory per day)."""
    out = df.withColumn(date_col, F.to_date(source_col))
    out.write.mode("overwrite").partitionBy(date_col).parquet(path)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two co-bucketed tables; with matching bucket spec Catalyst
    plans a sort-merge join with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table).hint("merge"), on)


def zorder_key2(a, b, bits: int = 16):
    """Bit-interleave two `bits`-bit integer columns into one Z-curve
    key (a pure codegen expression -- 4*bits shift/mask ops, no UDF).

    Sorting (then range-splitting) a table by this key clusters rows
    that are close in BOTH dimensions into the same files/row groups,
    so parquet min/max stats prune 2-D box predicates (e.g. time x
    user, lat x lon) that a 1-D sort can only prune along its leading
    column. The write pays one range shuffle -- same cost as any global
    sort -- and every later selective scan wins."""
    key = F.lit(0).cast("bigint")
    aa, bb = a.cast("bigint"), b.cast("bigint")
    for i in range(bits):
        key = key.bitwiseOR(F.shiftleft(F.shiftright(aa, i).bitwiseAND(F.lit(1)), 2 * i))
        key = key.bitwiseOR(F.shiftleft(F.shiftright(bb, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return key


def file_stats(spark, path: str) -> dict:
    """Small-files diagnosis for a parquet directory: file count, total
    bytes, and the min/median/max file size. Listing only -- no data
    read; at 100 TB this is a namenode/liststatus call, not a job."""
    import glob
    import os
    import statistics

    sizes = [
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes) if sizes else 0,
        "median_bytes": int(statistics.median(sizes)) if sizes else 0,
        "max_bytes": max(sizes) if sizes else 0,
    }


def compact(spark, src_path: str, dst_path: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Rewrite a many-small-files parquet directory into ~target-sized
    files: n_out = ceil(total_bytes / target) coalesced partitions.

    Small files are THE silent 100 TB killer -- every query pays a task
    per file and the namenode pays an entry per file; streaming sinks
    and over-partitioned writes produce them constantly, so compaction
    is a standing maintenance job. ``coalesce`` (not ``repartition``):
    narrowing to fewer partitions needs no shuffle -- each output task
    reads several input files sequentially. Row order within files may
    change; table SEMANTICS don't (tested), which is why compaction can
    run online against readers of the OLD files, with the same
    write-then-swap commit as the streaming upsert sink. Returns the
    output file count."""
    import math

    stats = file_stats(spark, src_path)
    n_out = max(1, math.ceil(stats["total_bytes"] / target_file_bytes))
    spark.read.parquet(src_path).coalesce(n_out).write.mode("overwrite").parquet(dst_path)
    return file_stats(spark, dst_path)["n_files"]
