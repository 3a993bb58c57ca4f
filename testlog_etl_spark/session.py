"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; every config
here is chosen to also make sense on a 1000-executor cluster reading
100 TB:

- AQE on (runtime coalescing, skew-join splitting, join re-selection);
- shuffle partitions sized to cores locally -- on a real cluster this is
  the knob you raise to ~2-3x total cores, and AQE coalesces down;
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized;
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are stable across machines;
- parquet pushdown/pruning left at defaults (on) -- plans are written so
  filters and projections reach the scan (verified via .explain in
  tests/bench);
- the generated-code class cache (``spark.sql.codegen.cache.maxEntries``)
  sized to the measured working set, so each plan's generated code is
  compiled once per JVM, not once per run. Spark's default keeps 100
  compiled classes, but a repeated workload needs more: one pass of the
  15 non-pair bench queries ~290, one ETL ingest cycle ~130, one
  ``bench.py`` run of all 20 ~410. At the default every pass recompiled
  almost all of them (~9.5 ms each, and the fresh classes then run cold
  in the JIT). At ``CODEGEN_CACHE_ENTRIES`` (2048) steady-state passes
  compile 0-13 classes, and Metaspace after a benchmark run is no higher
  than at the default (~166 MB against ~173 MB: the thrashing default
  keeps loading new classes). It is a static conf, read once per JVM: an
  existing session that ``getOrCreate`` returns keeps its own value, so
  ``get_spark`` reads it back and warns when it is lower. On a cluster
  every executor JVM has its own cache with the same cap, which stays
  the valve on Metaspace.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Codegen class-cache cap, a constant on purpose (no env var, no
# parameter); its derivation is in the ``get_spark`` docstring.
CODEGEN_CACHE_ENTRIES = 2048
_CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

log = logging.getLogger(__name__)


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def get_spark(app_name: str = "spark-jx", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster, deployment config overrides it and AQE re-coalesces at
    runtime so the setting is a ceiling, not a schedule.

    ``CODEGEN_CACHE_ENTRIES`` (2048) is the smallest power of two that
    is at least 3x the largest repeated working set measured on 4 cores:
    413 classes for one ``bench.py`` run (sf0.1, 20 queries x 2 reps),
    against ~290 for a query-scaled benchmark pass and 127 for an
    etl-ingest cycle. The Tier-1 test battery is not a repeated workload
    but a sweep of 6,675 distinct classes; its re-compiles of evicted
    classes fall from 5,369 at the default cap to 1,122 at 1024, 486 at
    2048 and 162 at 4096, with Metaspace at its end 216, 221, 227 and
    265 MB. 2048 removes 91% of them for 11 MB over the default.
    """
    cores = cpu_count()
    n_shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12: let AQE (incl. partition coalescing) apply to CACHED plan
        # materialization too -- off by default, which froze every
        # persisted rollup at the static shuffle partition count (32
        # cache blocks for a 20k-row frame; every cached traverse then
        # costs 32 tasks). Scale-correct on a cluster for the same
        # reason: cached intermediates coalesce to advisory-sized
        # blocks instead of inheriting the raw shuffle fan-out.
        # Explicit repartition(n)/repartitionByRange(n) calls keep
        # their user-specified partitioning (AQE never coalesces those).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # runtime Bloom-filter pruning for selective fact-fact joins: the
        # filtered build side seeds a bloom filter that prunes the probe
        # scan pre-shuffle. Off by default in OSS Spark; the size
        # thresholds (10 MB build / 10 GB probe scan) mean it only fires
        # where it pays -- locally the probe scan is under the threshold,
        # so plan tests lower it explicitly (test_bloom_filter_join_pruning)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # deterministic broadcast behavior: default 10MB threshold is fine
        # for the dims here (region/nation/supplier); explicit broadcast()
        # hints are still used at join sites so intent survives tuning.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects outright; read it as nanos-since-epoch long and convert
        # in tables.load_table (cast survives pushdown on other columns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(_CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # static conf: an existing session returned by getOrCreate keeps its
    # own value, which Spark only notes generically
    effective = int(spark.conf.get(_CODEGEN_CACHE_KEY))
    if effective < CODEGEN_CACHE_ENTRIES:
        log.warning(
            "%s is %d, below %d: this session was created without it, so "
            "generated code is recompiled once the working set outgrows the "
            "cache",
            _CODEGEN_CACHE_KEY, effective, CODEGEN_CACHE_ENTRIES,
        )
    return spark
