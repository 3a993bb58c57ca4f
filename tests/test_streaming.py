"""Streaming semantics that the batch-equality differential queries
can't show: watermark actually DROPS late data (bounded state is the
whole point of §2.9 at scale -- without the drop, event-time state
grows with stream length)."""

from __future__ import annotations

import pytest

import os
import time
from datetime import datetime

from pyspark.sql import functions as F


@pytest.mark.slow
def test_watermark_drops_late_events(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    sink_name = "wm_late_drop"

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, ["event_id", "ts"])
        path = str(tmp_path / f"build_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        part = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
        dest = os.path.join(src, name)
        os.rename(os.path.join(path, part), dest)
        os.utime(dest, (mtime, mtime))  # file source orders by mod time

    T = datetime
    # Watermark timing: the watermark produced by batch N's data only
    # takes effect in batch N+1, and state eviction happens at END of
    # batch -- so a late row arriving while its window is still live
    # MERGES (watermark is a lower-bound guarantee, not an exact cut).
    # Three batches force the real drop path:
    #   batch 0: 10:00-window data + a 12:00 advancer (watermark -> 11:50)
    #   batch 1: another advancer; 10:00 window is evicted+emitted (n=2)
    #   batch 2: late 10:03 row -- its window is gone and the row is
    #            below the watermark: dropped, never re-emitted
    write_file("f1.parquet", [(1, T(2024, 1, 1, 10, 0)), (2, T(2024, 1, 1, 10, 5)),
                              (3, T(2024, 1, 1, 12, 0))], time.time() - 100)
    write_file("f2.parquet", [(4, T(2024, 1, 1, 12, 5))], time.time() - 60)
    write_file("f3.parquet", [(5, T(2024, 1, 1, 10, 3))], time.time() - 20)

    schema = "event_id BIGINT, ts TIMESTAMP"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = stream.writeStream.outputMode("append").format("memory").queryName(sink_name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r["start"], r["n"]) for r in spark.table(sink_name).collect()]
    # exactly ONE emission of the 10:00 window, without the late event
    assert rows == [(T(2024, 1, 1, 10, 0), 2)]
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped >= 1


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """SS2.9 late-data semantics: rows older than watermark are DROPPED
    from stateful aggregation, and the engine accounts for them
    (numRowsDroppedByWatermark). Two explicit micro-batches: batch 1
    advances the watermark; batch 2 delivers a too-late row."""
    import datetime
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType, TimestampType

    src = str(tmp_path / "stream_in")
    os.makedirs(src)
    schema = StructType([StructField("ts", TimestampType())])
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(name, *ts):
        spark.createDataFrame([(t,) for t in ts], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write_batch("a", t0, t0 + datetime.timedelta(minutes=60))  # advances watermark to 10:50
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .count()
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("wm_drop_test").start()
    try:
        q.processAllAvailable()
        # batch 2: one row at 09:00 -- an hour behind the watermark
        write_batch("b", t0 - datetime.timedelta(minutes=60))
        q.processAllAvailable()
        dropped = max(
            (op.get("numRowsDroppedByWatermark", 0) for p in q.recentProgress for op in p["stateOperators"]),
            default=0,
        )
    finally:
        q.stop()
    assert dropped >= 1, "late row was not dropped/accounted by the watermark"
    # and the 09:00 window never reached the sink
    wins = [r["w"]["start"] for r in spark.table("wm_drop_test").collect()]
    assert all(w >= t0 - datetime.timedelta(minutes=15) for w in wins)


@pytest.mark.slow
def test_record_breakers_cross_batch_state(spark):
    """The running max must survive micro-batch boundaries: a value that
    is a record in batch 1 suppresses smaller values in batch 2."""
    import uuid

    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.highwater import record_breakers
    from testlog_etl_spark.streaming import jobs

    b1 = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00", 10.0), (2, 7, "2024-01-01 01:00:00", 5.0)],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(3, 7, "2024-01-02 00:00:00", 9.0), (4, 7, "2024-01-02 01:00:00", 11.0)],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    in_dir = jobs.stage_stream_batches([b1, b2], "rb_unit")
    stream = spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out = jobs.run_to_completion(
        record_breakers(stream), f"rb_unit_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    got = sorted(r["event_id"] for r in out.collect())
    # 1 (first=record), NOT 2 (5<10), NOT 3 (9<10, cross-batch!), 4 (11>10)
    assert got == [1, 4]


def test_record_breakers_tws_sandbox_gate(spark):
    """The Spark-4 transformWithState twin must fail FAST and clearly in
    this sandbox (its driver worker needs google.protobuf) rather than
    crashing mid-stream."""
    import pytest

    from testlog_etl_spark.operators.highwater import record_breakers_tws

    try:
        import google.protobuf.descriptor  # noqa: F401

        pytest.skip("protobuf present -- TWS path usable here")
    except ImportError:
        pass
    df = spark.readStream.format("rate").load().selectExpr(
        "value AS event_id", "value % 3 AS user_id",
        "timestamp AS ts", "CAST(value AS DOUBLE) AS value",
    )
    with pytest.raises(NotImplementedError, match="protobuf"):
        record_breakers_tws(df)


@pytest.mark.slow
def test_watermark_lag_audit_replay(spark):
    """Per trigger, Spark's reported watermark must equal the
    deterministic replay max(event ts over PRIOR batches) - delay
    (epoch-initial), so a watermark-lag audit frame (batch,
    max_event_ts, watermark, lag) is exactly oracle-able from
    (ingest_batch, ts) rows. Pins the progress semantics such an audit
    relies on."""
    import datetime as dt

    from pyspark.sql import functions as F

    from testlog_etl_spark.streaming.jobs import stage_stream_batches

    base = dt.datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            [(i, base + dt.timedelta(minutes=m)) for i, m in rows], "id long, ts timestamp"
        )

    specs = [[(1, 0), (2, 30)], [(3, 25), (4, 60)], [(5, 55), (6, 120)]]
    in_dir = stage_stream_batches([mk(s) for s in specs], "wmlag_audit_test")
    schema = mk(specs[0]).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = stream.withWatermark("ts", "10 minutes").groupBy(F.window("ts", "1 hour")).count()
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("wmlag_audit_test_t")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [dict(p) for p in (p if isinstance(p, dict) else p.asDict() for p in q.recentProgress)]
    finally:
        q.stop()

    delay = dt.timedelta(minutes=10)
    epoch = dt.datetime(1970, 1, 1)
    batch_max = [max(base + dt.timedelta(minutes=m) for _, m in s) for s in specs]

    def model_wm(b):
        if b == 0:
            return epoch
        return max(batch_max[:b]) - delay

    def parse(s):
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")

    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == len(specs)
    for b, p in enumerate(sorted(data_batches, key=lambda p: p["batchId"])):
        et = p["eventTime"]
        assert parse(et["max"]) == batch_max[b], (b, et)
        assert parse(et["watermark"]) == model_wm(b), (b, et)
        # the audit metric: how far ahead of the held watermark this
        # trigger's data runs (always positive while data flows)
        lag = parse(et["max"]) - parse(et["watermark"])
        assert lag > dt.timedelta(0)
    # after the drain the committed watermark is the full replay's value
    final_wm = parse(progress[-1]["eventTime"]["watermark"])
    assert final_wm == max(batch_max) - delay
