"""Loaders for the driver's parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings -- one parquet file per table under an sf dir.

Scale note (100 TB design): these are plain ``spark.read.parquet`` scans,
so Catalyst predicate pushdown / column pruning / partition pruning apply
unchanged when the path is a date-partitioned directory tree instead of a
single file. ``load_tables`` does NOT cache -- callers decide; caching the
fact table at 100 TB would be wrong, caching dims is done at join sites
via broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Fixed-cardinality dimension tables (region=5, nation=25 at every SF):
# the only safe *forced*-broadcast candidates. customer/supplier/part grow
# linearly with SF, so their joins are left to AQE, which broadcasts at
# runtime only while the (filtered) side actually fits in memory.
DIM_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# r12 (guide §1.2 "don't compute things you throw away", applied to the
# driver): every ``spark.read.parquet`` call runs a schema-inference /
# footer-listing job before any action. A query building 6 tables paid 6
# such jobs PER BUILD (q5: 6 build-time jobs, measured), and the bench
# pays them again every rep. The returned DataFrame is an immutable PLAN
# handle — memoizing it per (application, sf_dir, table) removes the
# repeated inference while every action still scans the parquet files;
# no data or results are cached.
#
# Invalidation (r13, ADVICE r12): the memo has no mtime key, so
# REWRITING a parquet file with a different schema inside one
# application would serve a stale plan handle — call
# ``clear_handle_cache()`` after regenerating data mid-application
# (tests that rewrite fixtures do; normal runs never rewrite inputs).
# Growth is bounded in practice by |tables| x |sf dirs| plan handles
# (~tens of objects), but the hook also frees them.
_HANDLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_handle_cache() -> None:
    """Drop every memoized table plan handle (see note above): required
    after rewriting a parquet input mid-application, harmless anytime."""
    _HANDLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ckey = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _HANDLE_CACHE.get(ckey)
    if cached is not None:
        return cached
    if name == "events":
        # The generated events.parquet has stored ts as TIMESTAMP(NANOS) in
        # some rounds (which Spark rejects by default: PARQUET_TYPE_ILLEGAL)
        # and plain TIMESTAMP(MICROS, isAdjustedToUTC=false) in others. The
        # caller's session may not have been built by session.get_spark
        # (the driver harness uses its own), so set the confs defensively
        # here, at the last moment before the read; both are
        # runtime-settable (verified: conf.set then re-read succeeds).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin UTC so NTZ wall-times and unix_timestamp/epoch bucketing
        # agree with DuckDB (which reads the same parquet as naive-as-UTC)
        # regardless of the host session's zone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Normalize ts to a real instant TIMESTAMP (LTZ, microsecond
        # precision) whatever the storage flavor was:
        # - TIMESTAMP(NANOS) + nanosAsLong arrives as long nanos-since-epoch;
        # - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
        #   TIMESTAMP_NTZ, which streaming event-time and double-casts
        #   reject.
        # Either way the cast is a projection on one column -- pushdown and
        # pruning on the rest is unaffected.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer div, not /: nanos-since-epoch (~1.7e18) overflows
            # double's exact-integer range, so float division drifts ulps
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # wall time interpreted in the (UTC-pinned) session zone; the
            # resulting instant equals DuckDB's naive-as-UTC reading
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _HANDLE_CACHE[ckey] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_duck_views(con, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register every driver table as a DuckDB view over its parquet --
    the one shared definition of the oracle-side table surface (used by
    tests/conftest.py and every tools/ differential gate; a new table
    added to TABLE_NAMES reaches all of them at once)."""
    for name in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
