"""T9/S6/S7: idempotent partitioned sinks.

Reference: documents are bulk-indexed into Elasticsearch with a
deterministic `_id` (the etl key chain), so at-least-once redelivery
plus overwrite-by-id yields exactly-once EFFECT; S3 JSONL blocks are the
inter-stage bus (activedata_etl/sinks/).

Spark realization: `dropDuplicates(natural key)`, then the deterministic
`_id` (lineage.deterministic_id) derived from that key, then
dynamic-partition-overwrite parquet. Re-running a batch rewrites exactly
the partitions it touches -- the `foreachBatch` form of this is the
streaming exactly-once story (SS2.9).

Deduping on the key columns rather than on their hash lets the dedupe
reuse the hash partitioning of an upstream aggregate grouped by the same
key: a mozlog tests frame plans 1 shuffle (its aggregate's), a suites
frame 2 and a text steps frame 1. A frame with no such aggregate (the
Perfherder docs) still pays 1 shuffle for the dedupe itself. The one
difference from hash-dedupe: two distinct keys whose `_id`s collide stay
two rows (xxhash64 skips nulls, so `(NULL,'a')` and `('a',NULL)` share an
`_id`); an id-keyed sink such as Elasticsearch then keeps the last one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from testlog_etl_spark.util import persist_once

from testlog_etl_spark.etl.lineage import deterministic_id


def dedupe_with_id(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """One row per natural key, stamped with its deterministic `_id`: the
    frame every idempotent sink writes (at-least-once -> effectively-once)."""
    return df.dropDuplicates(id_cols).withColumn("_id", deterministic_id(*id_cols))


def write_idempotent(
    df: DataFrame,
    path: str,
    id_cols: list[str],
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``dedupe_with_id(df, id_cols)``, overwriting only the
    partitions the batch touches (a writer option, so the session's
    overwrite mode is left alone)."""
    w = dedupe_with_id(df, id_cols).write.mode("overwrite").format(fmt)
    w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def split_sink(df: DataFrame, writers: list) -> None:
    """S8 Split: fan one transform's output to several sinks. The input
    is cached once so each writer re-reads memory, not the source."""
    persist_once(df)
    try:
        for w in writers:
            w(df)
    finally:
        df.unpersist()


def compact_files(
    spark: SparkSession, path: str, target_bytes: int = 256 * 1024 * 1024
) -> int:
    """Compact a parquet directory's small files to ~``target_bytes``
    outputs; returns the file count written.

    The 100 TB operational reality this addresses: streaming /
    per-batch sinks produce files sized by ARRIVAL (one per micro-batch
    per partition), and a table of 4 KB files makes every later scan
    pay per-file open/footer costs (plus object-store request rates).
    Sizing uses the directory's actual on-disk bytes -- no sampling, no
    row counting: bytes / target, clamped to >= 1. The rewrite is one
    narrow read + repartition + atomic directory swap; run it per date
    partition, not per table, so compaction parallelizes across days
    and never touches cold partitions."""
    import os
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, -(-total // target_bytes))
    tmp = path.rstrip("/") + ".compact_tmp"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
