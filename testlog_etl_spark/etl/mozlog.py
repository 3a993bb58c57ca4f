"""T2 (flagship transform): structured mozlog lines -> per-test result
documents + per-suite summaries.

Reference: activedata_etl/transforms/unittest_logs_to_sink.py streams a
mozlog JSONL artifact through a Python state machine (`accumulate_logs`)
keyed by test name: `test_start` opens, `test_status` lines accumulate
subtest counts, `test_end` closes with the overall status/expected and
the duration.

Spark realization: the "state machine" is order-insensitive once lines
carry their own action + timestamp, so it is ONE hash aggregate
(groupBy test) with conditional aggregates -- no Python boundary, full
codegen, and the same plan serves a 100 TB log corpus. `test_results`
shuffles once, on (suite_key, test), which is high-cardinality and
unskewed; `suite_summaries` adds a second shuffle, on suite_key. A sink
deduping on the same keys (etl/sink.py::dedupe_with_id) adds none.

Input line schema (mozlog public format): action, time (epoch seconds,
double), test, subtest, status, expected, message, plus a `suite_key`
column identifying the source artifact (the S3 key in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mozlog: a missing `expected` on a status/end line means the status
# itself was expected; unexpected iff expected is present and differs
_UNEXPECTED = "status <> coalesce(expected, status)"
_RESULT_AGGS = [
    "min(CASE WHEN action = 'test_start' THEN `time` END) AS start_time",
    "max(CASE WHEN action = 'test_end' THEN `time` END) AS end_time",
    "first(CASE WHEN action = 'test_end' THEN status END, true) AS status",
    "first(CASE WHEN action = 'test_end' THEN coalesce(expected, status) END, true) AS expected",
    "sum(CAST(action = 'test_status' AS BIGINT)) AS subtest_count",
    f"sum(CAST(action = 'test_status' AND NOT ({_UNEXPECTED}) AS BIGINT)) AS subtest_pass",
    f"sum(CAST(action = 'test_status' AND ({_UNEXPECTED}) AS BIGINT)) AS subtest_fail",
    f"max(CASE WHEN action = 'test_end' THEN {_UNEXPECTED} END) AS end_unexpected",
]
_RESULT_COLS = [
    "suite_key", "test", "start_time", "end_time", "status", "expected",
    "subtest_count", "subtest_pass", "subtest_fail",
    "end_time - start_time AS duration",
    # a test is ok iff its end status was expected and no subtest was
    # unexpected (reference: `ok` flag on the test doc)
    "NOT coalesce(end_unexpected, false) AND subtest_fail = 0 AS ok",
]
def test_results(lines: DataFrame) -> DataFrame:
    """Per-test result docs from raw mozlog lines: one filter, one
    aggregate, one projection."""
    return (
        lines.filter("action IN ('test_start', 'test_status', 'test_end')")
        .groupBy("suite_key", "test")
        .agg(*map(F.expr, _RESULT_AGGS))
        .selectExpr(*_RESULT_COLS)
    )


def suite_summaries(results: DataFrame) -> DataFrame:
    """Suite-level rollup (the reference emits one summary doc per log)."""
    return results.groupBy("suite_key").agg(
        F.count(F.lit(1)).alias("test_count"),
        F.sum((~F.col("ok")).cast("long")).alias("unexpected_count"),
        F.sum("subtest_count").alias("subtest_count"),
        F.min("start_time").alias("suite_start"),
        F.max("end_time").alias("suite_end"),
        F.sum("duration").alias("total_test_seconds"),
    )
