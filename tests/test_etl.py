"""Golden-file tests for the ETL transforms (SURVEY SS2.8, SS5): run each
transform on its deterministic fixture and assert exact expected values,
mirroring the reference's tests/resources golden-doc strategy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from testlog_etl_spark.etl import fixtures
from testlog_etl_spark.etl.lineage import deterministic_id
from testlog_etl_spark.etl.mozlog import suite_summaries
from testlog_etl_spark.etl.mozlog import test_results as mozlog_results  # alias: bare name would be pytest-collected
from testlog_etl_spark.etl.perfherder import extract_perf
from testlog_etl_spark.etl.sink import split_sink, write_idempotent
from testlog_etl_spark.etl.text_log import parse_steps


# edge lines appended to the fixture: a test with no test_end, status
# lines with a null expected, a line delivered twice, and a FAIL that was
# expected to fail
_MOZLOG_EDGES = [
    ("suite9", "test_start", 100.0, "no_end", None, None, None),
    ("suite9", "test_status", 101.0, "no_end", "a", "PASS", None),
    ("suite9", "test_status", 102.0, "no_end", "b", "FAIL", None),
    ("suite9", "test_start", 200.0, "twice", None, None, None),
    ("suite9", "test_status", 201.0, "twice", "a", "FAIL", "PASS"),
    ("suite9", "test_status", 201.0, "twice", "a", "FAIL", "PASS"),
    ("suite9", "test_end", 209.0, "twice", None, "OK", None),
    ("suite9", "test_end", 209.0, "twice", None, "OK", None),
    ("suite9", "test_start", 300.0, "known_fail", None, None, None),
    ("suite9", "test_status", 301.0, "known_fail", "a", "FAIL", "FAIL"),
    ("suite9", "test_end", 304.0, "known_fail", None, "FAIL", "FAIL"),
]


def _replay_mozlog(rows):
    """Pure-Python twin of mozlog.test_results: the reference's per-test
    state machine, replayed line by line (statuses are never null here)."""
    docs = {}
    for suite_key, action, t, test, _subtest, status, expected in rows:
        d = docs.setdefault(
            (suite_key, test),
            dict(suite_key=suite_key, test=test, start_time=None, end_time=None, status=None, expected=None,
                 subtest_count=0, subtest_pass=0, subtest_fail=0, end_unexpected=False),
        )
        unexpected = expected is not None and status != expected
        if action == "test_start":
            d["start_time"] = t if d["start_time"] is None else min(d["start_time"], t)
        elif action == "test_status":
            d["subtest_count"] += 1
            d["subtest_fail" if unexpected else "subtest_pass"] += 1
        elif action == "test_end":
            d["end_time"] = t if d["end_time"] is None else max(d["end_time"], t)
            d["status"], d["expected"], d["end_unexpected"] = status, expected or status, unexpected
    for d in docs.values():
        has_both = None not in (d["start_time"], d["end_time"])
        d["duration"] = d["end_time"] - d["start_time"] if has_both else None
        d["ok"] = not d.pop("end_unexpected") and d["subtest_fail"] == 0
    return docs


def test_mozlog_test_results(spark):
    lines = fixtures.mozlog_rows(n_suites=2, n_tests=10) + _MOZLOG_EDGES
    res = mozlog_results(spark.createDataFrame(lines, fixtures.MOZLOG_SCHEMA))
    rows = {(r["suite_key"], r["test"]): r for r in res.collect()}
    assert len(rows) == 23  # 2 suites x 10 tests + 3 edge tests
    assert {k: r.asDict() for k, r in rows.items()} == _replay_mozlog(lines)

    r = rows[("suite9", "no_end")]
    assert (r["status"], r["end_time"], r["duration"]) == (None, None, None)
    assert (r["subtest_pass"], r["ok"]) == (2, True)  # null expected: the status was expected
    r = rows[("suite9", "twice")]
    assert (r["subtest_count"], r["subtest_fail"], r["ok"]) == (2, 2, False)
    r = rows[("suite9", "known_fail")]
    assert (r["subtest_fail"], r["status"], r["expected"], r["ok"]) == (0, "FAIL", "FAIL", True)

    # test 3: all subtests pass, end OK
    r = rows[("suite0", "dom/test_003.html")]
    assert r["subtest_count"] == 3 and r["subtest_fail"] == 0
    assert r["status"] == "OK" and r["ok"] is True
    assert r["duration"] == 8.0

    # test 0: i%7==0 -> one unexpected FAIL subtest (end OK at i=0)
    r = rows[("suite1", "dom/test_000.html")]
    assert r["subtest_fail"] == 1 and r["ok"] is False

    # test 5: i%5==0, i>0 -> unexpected ERROR end status
    r = rows[("suite0", "dom/test_005.html")]
    assert r["status"] == "ERROR" and r["expected"] == "OK" and r["ok"] is False


def test_mozlog_suite_summaries(spark):
    res = suite_summaries(mozlog_results(fixtures.mozlog_lines(spark, n_suites=1, n_tests=10)))
    [s] = res.collect()
    # unexpected: subtest-fail tests {0,7} plus bad-end tests {5} -> 3
    assert s["test_count"] == 10
    assert s["unexpected_count"] == 3
    assert s["subtest_count"] == 30
    assert s["total_test_seconds"] == 80.0


def test_text_log_steps(spark):
    res = parse_steps(fixtures.text_log_lines(spark, n_logs=2, n_steps=4))
    rows = {(r["log_key"], r["step"]): r for r in res.collect()}
    assert len(rows) == 8
    ok = rows[("log0", "step_0 build")]
    assert ok["result_code"] == 0 and ok["ok"] is True and ok["elapsed"] == 30
    assert ok["start_time"] is not None and ok["end_time"] is not None
    bad = rows[("log1", "step_3 test")]
    assert bad["result_code"] == 1 and bad["ok"] is False


def test_perfherder_extract(spark):
    res = extract_perf(fixtures.perfherder_lines(spark, n_logs=2))
    rows = {(r["log_key"], r["subtest"]): r for r in res.collect()}
    assert len(rows) == 6  # 2 logs x 3 subtests
    r = rows[("perf1", "sub_2")]
    assert r["framework"] == "talos" and r["suite"] == "suite_1"
    assert r["replicate_count"] == 4
    # replicates = 31 + (-1, 0, 1, 2) -> mean 31.5, min 30, max 33
    assert r["replicate_mean"] == 31.5
    assert (r["replicate_min"], r["replicate_max"]) == (30.0, 33.0)


def test_lcov_coverage_parse(spark):
    from testlog_etl_spark.etl.coverage import parse_lcov

    res = parse_lcov(fixtures.lcov_lines(spark, n_logs=1, n_files=2, n_lines=9))
    rows = {r["source_file"]: r for r in res.collect()}
    assert len(rows) == 2
    r = rows["src/module_0.py"]
    # file 0: line covered iff line % 3 != 0 -> uncovered {3,6,9}
    assert r["uncovered_lines"] == [3, 6, 9]
    assert r["total_lines"] == 9 and r["covered_count"] == 6
    assert r["coverage_ratio"] == round(6 / 9, 6)
    r1 = rows["src/module_1.py"]
    # file 1: uncovered iff (line+1) % 3 == 0 -> {2,5,8}
    assert r1["uncovered_lines"] == [2, 5, 8]


def test_idempotent_sink_rerun(spark, tmp_path):
    """T9: re-running the same batch yields the same rows (exactly-once
    effect), rows equal on the id columns collapse to one, and distinct
    keys whose `_id`s collide stay distinct rows."""
    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("1", "a", 10.0), ("2", "a", 20.0), ("2", "a", 20.0), ("2", "a", 21.0), ("3", "b", 30.0),
         # xxhash64 skips nulls, so these two keys share one _id
         (None, "b", 40.0), ("b", None, 50.0)],
        "k string, part string, v double",
    )
    write_idempotent(df, path, id_cols=["k", "part"], partition_by=["part"])
    write_idempotent(df, path, id_cols=["k", "part"], partition_by=["part"])  # re-run
    out = spark.read.parquet(path)
    keys = [(r["k"], r["part"]) for r in out.collect()]
    assert sorted(keys, key=repr) == sorted([("1", "a"), ("2", "a"), ("3", "b"), (None, "b"), ("b", None)], key=repr)
    collided = out.filter(F.col("k").isNull() | F.col("part").isNull())
    assert collided.select(F.count_distinct("_id")).first()[0] == 1
    assert out.select(F.count_distinct("_id")).first()[0] == 4


def test_idempotent_sink_overwrites_only_touched_partitions(spark, tmp_path):
    """The dynamic overwrite is scoped to the writer: rewriting partition
    `a` keeps partition `b` on disk and leaves the session's mode alone."""
    path = str(tmp_path / "sink")
    conf = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf)
    write_idempotent(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], ["k", "part", "v"]),
                     path, id_cols=["k", "part"], partition_by=["part"])
    write_idempotent(spark.createDataFrame([(1, "a", 9.0)], ["k", "part", "v"]),
                     path, id_cols=["k", "part"], partition_by=["part"])
    out = sorted((r["k"], r["part"], r["v"]) for r in spark.read.parquet(path).collect())
    assert out == [(1, "a", 9.0), (2, "b", 2.0)]
    assert spark.conf.get(conf) == before == "STATIC"


def test_split_sink_fans_out(spark, tmp_path):
    """S8: one transform's output reaches every sink, identically."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    paths = [str(tmp_path / "dest_a"), str(tmp_path / "dest_b")]
    split_sink(df, [lambda d, p=p: d.write.parquet(p) for p in paths])
    a, b = (sorted(map(tuple, spark.read.parquet(p).collect())) for p in paths)
    assert a == b == [(1, "a"), (2, "b")]
    assert not df.is_cached  # split_sink unpersists its working cache


def test_deterministic_id_stability(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["a", "b"])
    one = df.select(deterministic_id("a", "b").alias("i")).collect()
    two = df.repartition(8).select(deterministic_id("a", "b").alias("i")).collect()
    assert sorted(r["i"] for r in one) == sorted(r["i"] for r in two)


def test_fixture_files_match_builders():
    """The committed tests/data/*.jsonl (read by both the Spark queries and
    their DuckDB oracles) must be exactly what the row builders produce --
    guards against editing a builder without regenerating the files."""
    import json

    for fname, (builder, cols) in fixtures._FILES.items():
        with open(fixtures.fixture_path(fname)) as f:
            on_disk = [json.loads(line) for line in f]
        built = [dict(zip(cols, row)) for row in builder()]
        assert on_disk == built, f"{fname} is stale; rerun python -m testlog_etl_spark.etl.fixtures"


def test_jsonl_tolerant_quarantine(spark, tmp_path):
    """S1/S5 hardening: malformed lines land in the dead-letter side, good
    lines parse on, the job never dies (the reference's skip-and-log)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from testlog_etl_spark.etl.jsonl_source import read_jsonl_tolerant

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "msg": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "msg": "also ok"}\n'
        '{"id": "NOT_A_NUMBER", "msg": "type clash"}\n'
    )
    schema = StructType([StructField("id", LongType()), StructField("msg", StringType())])
    good, bad = read_jsonl_tolerant(spark, str(p), schema)
    assert {(r["id"], r["msg"]) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert "this is not json at all" in bad_lines
    assert len(bad_lines) == 2
    assert good.columns == ["id", "msg"]


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    from testlog_etl_spark.etl.sink import compact_files

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # 64 tiny files
    import os

    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 64
    n_after = compact_files(spark, path, target_bytes=1 << 30)
    assert n_after == 1
    out = spark.read.parquet(path)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).first()[0] == 2 * sum(range(10_000))


def test_csv_permissive_quarantine(spark, tmp_path):
    """CSV sibling of the JSONL dead-letter: malformed rows surface in the
    corrupt-record column instead of killing the read, good rows parse."""
    p = tmp_path / "mixed.csv"
    p.write_text(
        "event_id,event_type,value\n"
        "1,click,10.5\n"
        "2,view,NOT_A_NUMBER\n"
        "3,view,7.25\n"
    )
    df = (
        spark.read.schema("event_id bigint, event_type string, value double, _corrupt string")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(str(p))
    ).cache()  # PERMISSIVE corrupt-column reads require materialization before filter
    good = df.filter(df["_corrupt"].isNull())
    bad = df.filter(df["_corrupt"].isNotNull())
    assert {(r["event_id"], r["value"]) for r in good.collect()} == {(1, 10.5), (3, 7.25)}
    assert [r["_corrupt"] for r in bad.collect()] == ["2,view,NOT_A_NUMBER"]


def test_downsample_interpolate_semantics(spark):
    # one series, observations at buckets 0 and 30s with a 2-bucket gap
    # (10s interval): gap buckets linearly interpolated; tail LOCF;
    # head (before first obs) null
    import datetime

    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.timeseries import downsample_interpolate

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    df = spark.createDataFrame(
        [("s", at(30), 10.0), ("s", at(60), 40.0), ("s", at(70), 40.0), ("x", at(65), 7.0)],
        ["series", "ts", "v"],
    )
    out = downsample_interpolate(
        df, "series", "ts", F.col("v"), interval_sec=10, agg="sum", agg_round_to=2, round_to=4
    )
    rows = {(r["series"], r["bucket"].second + 60 * r["bucket"].minute): r["filled"] for r in out.collect()}
    assert rows[("s", 30)] == 10.0
    # gap buckets 40,50 between 10.0@30 and 40.0@60: 20.0 and 30.0
    assert rows[("s", 40)] == 20.0 and rows[("s", 50)] == 30.0
    assert rows[("s", 60)] == 40.0
    # x: null before its first observation at 60
    assert rows[("x", 30)] is None and rows[("x", 60)] == 7.0
    # x tail after last obs: LOCF
    assert rows[("x", 70)] == 7.0


def test_best_changepoint_finds_step(spark):
    # series A: mean 10 for t<50, mean 30 after -> split at t=49 (last
    # left point); series B: flat -> split exists but sse_drop ~ 0
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.timeseries import best_changepoint

    rows = [("A", i, 10.0 + (20.0 if i >= 50 else 0.0) + (i % 3) * 0.1) for i in range(100)]
    rows += [("B", i, 5.0 + (i % 3) * 0.1) for i in range(100)]
    df = spark.createDataFrame(rows, ["series", "t", "v"])
    out = {r["series"]: r for r in best_changepoint(df, "series", "t", "v").collect()}
    assert out["A"]["split"] == 49
    assert out["A"]["sse_drop"] > 5000  # ~ n/4 * shift^2
    assert out["B"]["sse_drop"] <= 1
    assert abs(out["A"]["mean_left"] - 10.1) < 0.05
    assert abs(out["A"]["mean_right"] - 30.1) < 0.05


def test_fresh_scratch_dir_sweeps_stale_keeps_live(tmp_path, monkeypatch):
    import os
    import time

    from testlog_etl_spark.streaming import jobs

    monkeypatch.setattr(jobs, "SCRATCH", str(tmp_path))
    root = tmp_path / "blk"
    stale = root / "deadbeef"
    live = root / "cafef00d"
    for d in (stale, live):
        d.mkdir(parents=True)
        (d / "part-0").write_text("x")
    old = time.time() - 3600
    os.utime(stale, (old, old))

    fresh = jobs.fresh_scratch_dir("blk", ttl_sec=600)
    # reserved path is new, under the subdir, and NOT created yet
    # (writers create it); stale sibling swept, recent sibling kept
    assert fresh.startswith(str(root)) and not os.path.exists(fresh)
    assert not stale.exists()
    assert live.exists()


def test_connector_bridge_gates_and_options(spark, sf_dir):
    """The production-connector bridge (etl/connectors.py) must (a) raise
    ConnectorUnavailable naming the public Maven coordinate when the JAR
    is absent (this sandbox has none), (b) return the exact option maps a
    cluster deploy needs, and (c) build a real bounded file-notification
    stream that the existing analogs' downstream code accepts."""
    import pytest as _pytest

    from testlog_etl_spark.etl import connectors as cx

    # (a) kafka + ES gates: clean errors, not ClassNotFound tracebacks
    with _pytest.raises(cx.ConnectorUnavailable, match="spark-sql-kafka"):
        cx.kafka_stream(spark, "broker:9092", "events")
    with _pytest.raises(cx.ConnectorUnavailable, match="elasticsearch-spark"):
        cx.write_elasticsearch(
            spark.range(1).select(F.lit("a").alias("k")), "idx", "es:9200", ["k"]
        )

    # (b) option maps: the semantics-bearing keys are pinned
    es = cx.elasticsearch_sink_options("docs", "es:9200", "_id")
    assert es["es.mapping.id"] == "_id"  # overwrite-by-id = exactly-once effect
    assert es["es.write.operation"] == "upsert"
    s3 = cx.s3a_scale_options()
    assert s3["spark.hadoop.fs.s3a.committer.name"] == "magic"  # rename-free commit
    assert int(s3["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024

    # (c) bounded file-notification stream: real streaming DF over the
    # same parquet the analogs use, with backlog/state bounds applied
    from testlog_etl_spark.tables import table_path

    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    sdf = cx.file_notification_stream(
        spark, table_path(sf_dir, "events") + "*", schema, max_files_per_trigger=2
    )
    assert sdf.isStreaming
    assert sdf.schema == schema

    # format routing: compressed JSONL (the canonical production shape
    # named in the S1 docstring) must reach the JSON reader, not parquet
    jdf = cx.file_notification_stream(spark, "/tmp/absent/*.jsonl.gz", schema)
    assert "json" in jdf._jdf.queryExecution().logical().toString().lower()
    pdf_rel = cx.file_notification_stream(spark, "/tmp/absent/*.parquet", schema)
    assert "parquet" in pdf_rel._jdf.queryExecution().logical().toString().lower()
    # extension-less glob is AMBIGUOUS: must raise, never silently default
    # to parquet (r09: explicit format parameter)
    with pytest.raises(ValueError, match="cannot infer the format"):
        cx.file_notification_stream(spark, "/tmp/absent/*", schema)
    # ...unless the caller states the format explicitly
    fdf = cx.file_notification_stream(spark, "/tmp/absent/*", schema, format="json")
    assert "json" in fdf._jdf.queryExecution().logical().toString().lower()
    with pytest.raises(ValueError, match="format must be"):
        cx.file_notification_stream(spark, "/tmp/absent/*", schema, format="orc")
