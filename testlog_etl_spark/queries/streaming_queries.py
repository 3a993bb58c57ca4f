"""Oracle-paired Structured Streaming queries (SURVEY SS2.9).

Each entry drains the events table as a file-source stream and returns
the sink contents; because the stream is run to completion, the result
equals the equivalent batch aggregate -- which IS the DuckDB oracle. The
streaming machinery (source, trigger, state store, sink commit) is what
is under test; value semantics ride on the already-verified batch ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from testlog_etl_spark.streaming import jobs
from testlog_etl_spark.suite import register


@register(
    "stream_event_counts",
    doc="file-source stream -> running groupBy counts -> memory sink "
    "(complete mode); equals the batch aggregate once drained.",
    oracle="""
SELECT event_type, count(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = jobs.run_to_completion(jobs.event_type_counts(spark, sf_dir), "stream_event_counts")
    return out.orderBy("event_type")


@register(
    "stream_hourly_window",
    doc="event-time tumbling window + watermark; complete-mode output "
    "over the drained file equals batch date_trunc('hour').",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
""",
)
def stream_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = jobs.run_to_completion(jobs.hourly_windowed_counts(spark, sf_dir), "stream_hourly_window")
    # formatted UTC string -- TZ-proof output (r06 TZ sweep); string
    # order == chronological order for this format
    return out.withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss")).orderBy("hour", "event_type")


_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 86400 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
), g AS (
  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
  FROM s GROUP BY user_id, sess
)
"""


@register(
    "sessionize_batch",
    doc="gap-based sessionization (1-day gap) as two window passes over "
    "one shuffle; the streaming twin is the stateful operator below.",
    oracle=_SESSIONIZE_SQL
    + """
SELECT user_id, strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end, n_events, sum_value
FROM g ORDER BY user_id, session_start
""",
    bench=True,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sessionize import sessionize
    from testlog_etl_spark.tables import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = sessionize(ev, gap_sec=86400.0)
    # formatted UTC strings -- TZ-proof output (r06 TZ sweep)
    return (
        out.withColumn("sum_value", F.round("sum_value", 4))
        .withColumn("session_start", F.date_format("session_start", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("session_end", F.date_format("session_end", "yyyy-MM-dd HH:mm:ss"))
        .orderBy("user_id", "session_start")
    )


@register(
    "sessionize_stream_stateful",
    doc="custom stateful streaming operator (applyInPandasWithState): "
    "per-user state machine emits sessions CLOSED by a later gap; the "
    "oracle is batch sessionization minus each user's trailing session.",
    oracle=_SESSIONIZE_SQL
    + """
SELECT user_id, strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end, n_events, sum_value
FROM (SELECT *, max(sess) OVER (PARTITION BY user_id) AS max_sess FROM g)
WHERE sess < max_sess
ORDER BY user_id, session_start
""",
)
def sessionize_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sessionize import sessionize_stateful

    ev = jobs.stream_table(spark, sf_dir, "events")
    out = jobs.run_to_completion(
        sessionize_stateful(ev, gap_sec=86400.0), "sessionize_stream_stateful", output_mode="append"
    )
    # formatted UTC strings -- TZ-proof output (r06 TZ sweep)
    return (
        out.withColumn("sum_value", F.round("sum_value", 4))
        .withColumn("session_start", F.date_format("session_start", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("session_end", F.date_format("session_end", "yyyy-MM-dd HH:mm:ss"))
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_foreachbatch_sink",
    doc="T9/SS2.9 exactly-once effect: foreachBatch + deterministic-id "
    "dynamic-partition overwrite; sink contents equal the deduped input.",
    oracle="""
SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
FROM events
ORDER BY event_id
""",
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    out_path = os.path.join(jobs.SCRATCH, "sink", "events_docs")
    # clear: dynamic overwrite rewrites only touched partitions, so a
    # previous run at another scale factor could leave stale days behind
    shutil.rmtree(out_path, ignore_errors=True)
    jobs.foreach_batch_idempotent(spark, sf_dir, out_path, "stream_foreachbatch_sink")
    return (
        spark.read.parquet(out_path)
        .select("event_id", "user_id", "event_type", F.round("value", 4).alias("value"))
        .orderBy("event_id")
    )


@register(
    "stream_dedup_redelivery",
    doc="at-least-once redelivery (stream unioned with itself = every "
    "event delivered twice) restored to exactly-once IN-STREAM via "
    "dropDuplicatesWithinWatermark(event_id); the aggregate over the "
    "deduped sink equals the batch aggregate over the single-delivery "
    "table -- a doubled count is an immediate hash mismatch.",
    oracle="""
SELECT event_type, count(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = jobs.dedup_redelivered(spark, sf_dir)
    out = jobs.run_to_completion(deduped, "stream_dedup_redelivery", output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("event_type")
    )


@register(
    "sessionize_native_window",
    doc="the same sessions via Spark's native session_window (engine-"
    "managed merging windows in one groupBy; streaming-ready alternative "
    "to the lag-cumsum form). Boundary note: session_window is half-open, "
    "so a NEW session starts at gap >= gapDuration -- the oracle's break "
    "test is >= where the cumsum twin uses >; window close = last event "
    "+ gap.",
    bench=True,
    oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 86400 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(max(ts) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS window_close,
  count(*) AS n_events,
  ROUND(SUM(value), 4) AS sum_value
FROM s
GROUP BY user_id, sess
ORDER BY user_id, session_start
""",
)
def sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.tables import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy("user_id", F.session_window("ts", "86400 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        # formatted UTC strings -- TZ-proof output (r06 TZ sweep)
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_close"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_stream_join",
    doc="watermarked stream-stream inner join (clicks x same-user "
    "purchases within 30 min): both sides watermarked, two-sided "
    "event-time bound so join state expires; append-mode pairs drained "
    "to the memory sink equal the batch range join. Pairs are then "
    "aggregated per user for a bounded compare.",
    oracle="""
SELECT c.user_id AS user_id, count(*) AS n_pairs, ROUND(SUM(p.value), 4) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
ORDER BY c.user_id
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jobs.run_to_completion(
        jobs.click_purchase_join(spark, sf_dir), "stream_stream_join", output_mode="append"
    )
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("p_value"), 4).alias("purchase_value"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_upsert_latest",
    doc="streaming keyed upsert (MERGE-INTO analog): the event stream is "
    "staged as three disjoint file slices consumed one per micro-batch "
    "(maxFilesPerTrigger=1), each merged into a keyed state table with "
    "latest-(ts,event_id)-wins semantics; latest-wins is commutative "
    "across batches so the final state equals the batch answer whatever "
    "the split -- which is exactly what the oracle states (per-user "
    "ROW_NUMBER over ts DESC, event_id DESC).",
    oracle="""
SELECT user_id, event_id, event_type, ROUND(value, 4) AS value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
""",
)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from testlog_etl_spark.streaming import jobs
    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(jobs.SCRATCH, "upsert")
    # age-based cleanup of PRIOR runs' staging (unique dirs keep
    # concurrent runs safe -- ADVICE r03; the age gate keeps them from
    # accumulating); the CURRENT run's state dir stays on disk because
    # the returned DataFrame lazily reads it -- no driver-side collect
    # of the state table, which scales with distinct keys.
    import time as _time

    if os.path.isdir(root):
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if os.path.getmtime(p) < _time.time() - 600:
                shutil.rmtree(p, ignore_errors=True)
    base = os.path.join(root, uuid.uuid4().hex)
    in_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "state")
    # three disjoint slices -> three micro-batches, so the upsert merge
    # path (not just the first-batch insert) is what's exercised
    for k in (0, 1, 2):
        # id mod 3: total coverage whatever the id distribution (a range
        # split would silently drop rows if regenerated ids stop being
        # 0..n-1 contiguous)
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode("append").parquet(in_dir)
    jobs.foreach_batch_upsert(spark, in_dir, out_dir, f"stream_upsert_{uuid.uuid4().hex[:8]}")
    out = spark.read.parquet(out_dir)
    return out.select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    ).orderBy("user_id")


@register(
    "stream_stream_left_join",
    doc="watermarked stream-stream LEFT OUTER join: clicks with their "
    "same-user purchase within 30 min, or NULL once the watermark "
    "proves no match can arrive. Outer rows emit only when the global "
    "watermark passes the click's join horizon, so the query stages "
    "the events and appends a far-future sentinel batch (both types, "
    "excluded from results) to flush pending state -- the streaming "
    "analog of end-of-input. Oracle = the batch LEFT JOIN.",
    oracle="""
SELECT c.user_id AS user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
ORDER BY c.user_id
""",
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from testlog_etl_spark.streaming import jobs
    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    root = os.path.join(jobs.SCRATCH, "ss_left")
    import time as _time

    if os.path.isdir(root):
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if os.path.getmtime(p) < _time.time() - 600:
                shutil.rmtree(p, ignore_errors=True)
    in_dir = os.path.join(root, uuid.uuid4().hex)
    ev.coalesce(1).write.mode("append").parquet(in_dir)

    raw_schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(raw_schema).parquet(in_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    stream2 = spark.readStream.schema(raw_schema).parquet(in_dir)
    purchases = (
        stream2.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + interval 30 minutes"),
        "leftOuter",
    )
    qname = f"ss_left_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
        # flush: sentinel far past every real event advances BOTH sides'
        # watermarks so pending outer rows emit (end-of-input analog).
        # Built by bumping the latest RAW row, so whatever storage flavor
        # this round's events.ts has (nanos-long / NTZ / instant), the
        # sentinel file matches it byte-for-byte in schema.
        raw = spark.read.parquet(in_dir)
        one = raw.orderBy(F.col("ts").desc()).limit(1)
        bump = (
            F.col("ts") + F.lit(12 * 3600 * 10**9)
            if dict(raw.dtypes)["ts"] == "bigint"
            else F.col("ts") + F.expr("INTERVAL 12 HOURS")
        )
        sent = one.withColumn("ts", bump).withColumn(
            "user_id", F.lit(-1).cast(dict(raw.dtypes)["user_id"])
        )
        sent.withColumn("event_type", F.lit("click")).unionByName(
            sent.withColumn("event_type", F.lit("purchase"))
        ).coalesce(1).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = spark.table(qname).filter(F.col("c_user") >= 0)
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)).alias("n_matched"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_sliding_window",
    doc="event-time SLIDING window (1h/15min): each event counted in 4 "
    "overlapping windows; epoch-aligned starts make the batch twin "
    "exact (floor(ts/900)*900 - {0,900,1800,2700}).",
    oracle="""
SELECT strftime(make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - o) * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n
FROM events, unnest([0, 900, 1800, 2700]) AS t(o)
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = jobs.run_to_completion(jobs.sliding_window_counts(spark, sf_dir), "stream_sliding_window")
    # formatted UTC string -- TZ-proof output (r06 TZ sweep)
    return out.withColumn("win_start", F.date_format("win_start", "yyyy-MM-dd HH:mm:ss")).orderBy("win_start", "event_type")


@register(
    "stream_static_enrich",
    doc="stream-static broadcast join (J1/S10 enrichment applied to the "
    "queue source): dim resolved per micro-batch, zero stream state; "
    "drained output equals the batch join.",
    oracle="""
SELECT stage, count(*) AS n, ROUND(SUM(value * weight), 4) AS weighted_value
FROM events
JOIN (VALUES ('view', 'browse', 0.1), ('click', 'engage', 0.5), ('purchase', 'convert', 1.0))
  AS dim(event_type, stage, weight) USING (event_type)
GROUP BY stage
ORDER BY stage
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = jobs.run_to_completion(jobs.stream_static_enrich(spark, sf_dir), "stream_static_enrich")
    return out.orderBy("stage")


@register(
    "stream_session_window",
    doc="native MERGING session windows in streaming mode "
    "(F.session_window, 1-day gap): state is one open window per user, "
    "windows merge as bridging events arrive, and a session emits when "
    "the watermark passes its (last event + gap) close. End-of-input "
    "via the far-future sentinel batch (user -1, excluded). Drained "
    "append output equals batch gap-sessionization -- the same oracle "
    "as batch gap-sessionization, reached through streaming state. "
    "Boundary: session_window opens a NEW session at gap >= gapDuration "
    "(half-open), so the oracle's break test is >= -- pairing it with "
    "the cumsum twin's > would silently diverge on a corpus containing "
    "an exact-86400s gap.",
    oracle="""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 86400 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
), g AS (
  SELECT user_id, sess, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
  FROM s GROUP BY user_id, sess
)
SELECT user_id, strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end, n_events, sum_value
FROM g ORDER BY user_id, session_start
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    in_dir = jobs.stage_stream_input(ev, "sess_win")

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "1 day").alias("_w"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )
    qname = f"sess_win_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
        # sentinel 30 days past the horizon closes every real session
        # (gap 1 day + watermark 1 h); user -1 is filtered from results
        jobs.far_future_sentinel(ev).coalesce(1).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    # formatted UTC strings -- TZ-proof output (r06 TZ sweep)
    return (
        spark.table(qname)
        .filter(F.col("user_id") >= 0)
        .withColumn("session_start", F.date_format("session_start", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("session_end", F.date_format("session_end", "yyyy-MM-dd HH:mm:ss"))
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_hourly_distinct",
    doc="CHAINED stateful aggregations in one streaming query (Spark "
    "3.4+ multiple-stateful-operator support): distinct users per hour "
    "as dedup-level groupBy (hour, user) feeding a count-level groupBy "
    "(hour) -- COUNT(DISTINCT) is unsupported in streaming, the "
    "two-level form is the scalable restatement (first level's state is "
    "the distinct set, sharded by key; second level counts closed "
    "groups). Windows emit on watermark close; sentinel flushes the "
    "tail.",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1
ORDER BY hour
""",
)
def stream_hourly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    in_dir = jobs.stage_stream_input(ev, "hr_distinct")

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    level1 = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    level2 = level1.groupBy("w").agg(F.count(F.lit(1)).alias("n_users"))
    qname = f"hr_distinct_{uuid.uuid4().hex[:8]}"
    q = level2.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
        jobs.far_future_sentinel(ev).coalesce(1).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(qname).select(F.col("w.start").alias("hour"), "n_users")
    # the sentinel's own far-future window never emits (nothing after it
    # advances the watermark past its close), so no filter is needed --
    # but keep one anyway: replays with a later second sentinel would
    # surface it
    horizon = ev.agg(F.max("ts")).collect()[0][0]
    # formatted UTC string -- TZ-proof output (r06 TZ sweep); the
    # horizon filter runs on the raw timestamp BEFORE formatting
    return (
        out.filter(F.col("hour") <= horizon)
        .withColumn("hour", F.date_format("hour", "yyyy-MM-dd HH:mm:ss"))
        .orderBy("hour")
    )


@register(
    "stream_mv_maintenance",
    doc="streaming aggregate-MV maintenance (foreachBatch + operators/"
    "incremental.py): each micro-batch reduces to per-type PARTIALS "
    "merged into the MV table -- monoid merges make the result "
    "independent of the batch split (input staged as 3 batches here), "
    "and state lives in the sink table, not executor memory. Final MV "
    "== the one-shot batch aggregate, which is the oracle.",
    oracle="""
SELECT event_type, count(*) AS n, ROUND(SUM(value), 4) AS sum_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # stage as 3 micro-batches on a value-independent split: the MV
    # result must not depend on the split (monoid merge), and the
    # driver query exercises exactly that
    in_dir = jobs.stage_stream_batches(
        [ev.filter(F.col("event_id") % 3 == k) for k in range(3)], "mv_maint"
    )
    out_dir = in_dir + "_mv"
    jobs.foreach_batch_mv(spark, in_dir, out_dir, f"stream_mv_{uuid.uuid4().hex[:8]}")
    out = spark.read.parquet(out_dir)
    # formatted UTC strings -- TZ-proof output (r06 TZ sweep)
    return out.select(
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    ).orderBy("event_type")


@register(
    "stream_rate_limit",
    doc="second custom stateful operator (operators/ratelimit.py, "
    "applyInPandasWithState): per-user hourly quota of 3 with admit "
    "counts carried across micro-batches in keyed state. Input staged "
    "as 3 CHRONOLOGICAL batches (streams arrive in rough time order; "
    "a quota admitted out of order would be a different contract), so "
    "the admitted set equals the batch row_number()-per-(user,hour) "
    "answer.",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_admitted,
       ROUND(SUM(value), 4) AS sum_admitted
FROM (
  SELECT e.*, ROW_NUMBER() OVER (
           PARTITION BY user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600
           ORDER BY ts, event_id) AS rn
  FROM events e
)
WHERE rn <= 3
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.operators.ratelimit import rate_limit_stateful
    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # three chronological micro-batches (tercile cut points span the
    # events month at every SF; fixture guard pins the window)
    t1, t2 = "2024-01-11 00:00:00", "2024-01-21 00:00:00"
    parts = []
    for lo, hi in ((None, t1), (t1, t2), (t2, None)):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        parts.append(part)
    in_dir = jobs.stage_stream_batches(parts, "rate_limit")

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    limited = rate_limit_stateful(stream, quota=3, window_sec=3600)
    out = jobs.run_to_completion(limited, f"rate_limit_{uuid.uuid4().hex[:8]}", output_mode="append")
    # admitted events joined back for their type: the limiter's output
    # carries ids, the enrichment is a batch join on the static table
    typed = out.join(ev.select("event_id", "event_type"), "event_id")
    return (
        typed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_admitted"), F.round(F.sum("value"), 4).alias("sum_admitted"))
        .orderBy("event_type")
    )


@register(
    "stream_record_breakers",
    doc="third custom stateful operator (operators/highwater.py): "
    "per-user running high-water mark carried across micro-batches -- "
    "an event is emitted iff it STRICTLY exceeds every earlier value "
    "for its user; state is ONE double per key (constant per-key "
    "memory however long the stream runs). A Spark-4 "
    "transformWithStateInPandas StatefulProcessor twin ships alongside "
    "(record_breakers_tws; its driver worker imports google.protobuf, "
    "absent in this sandbox, so the registered path runs "
    "applyInPandasWithState). Input staged as 3 chronological batches; "
    "the emitted set equals the batch prior-max window answer -- pure "
    "comparisons, no arithmetic, exact on any engine.",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_records,
       ROUND(SUM(value), 4) AS sum_records
FROM (
  SELECT e.*, MAX(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
  FROM events e
)
WHERE prior_max IS NULL OR value > prior_max
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_record_breakers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.operators.highwater import record_breakers
    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    t1, t2 = "2024-01-11 00:00:00", "2024-01-21 00:00:00"
    parts = []
    for lo, hi in ((None, t1), (t1, t2), (t2, None)):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        parts.append(part)
    in_dir = jobs.stage_stream_batches(parts, "record_breakers")

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    records = record_breakers(stream.select("event_id", "user_id", "ts", "value"))
    out = jobs.run_to_completion(
        records, f"record_breakers_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    typed = out.join(ev.select("event_id", "event_type"), "event_id")
    return (
        typed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.round(F.sum("value"), 4).alias("sum_records"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_late_arrival_audit",
    doc="watermark lateness accounting: events arrive out of order "
    "(deterministic hash jitter stands in for network reordering); a "
    "60 s-delay watermark tracks the running max event time over the "
    "ARRIVAL order, and a row is late-dropped iff its event time is "
    "behind (watermark - delay) at its own arrival -- exactly Spark "
    "Structured Streaming's drop rule, restated batch-replayable so "
    "the per-hour accepted/dropped counts are an auditable readout "
    "(the operations question 'what did the watermark cost us?'). "
    "The running max over a data-scale total order runs through "
    "operators/scan.py::global_scan (bucketed cummax: "
    "sampled struct boundaries, literal prefix-max carries, one hash "
    "exchange, zero Python) -- no single-partition window.",
    oracle=None,  # filled below: shares the generated xxh64 SQL
)
def stream_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan
    from testlog_etl_spark.tables import load_tables

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        "event_id",
        "ts",
        F.unix_timestamp("ts").cast("double").alias("ts_sec"),
        (
            F.unix_timestamp("ts")
            + F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(120))
        ).cast("double").alias("arr_sec"),
    )
    # exclusive running max over the arrival order: one hash exchange,
    # zero Python (differential-pinned against a single-partition
    # window in tests/test_diff.py)
    scanned = global_scan(
        base,
        [ScanSpec(("arr_sec", "event_id"), val="ts_sec", max="seen_max", exclusive=True)],
    )
    flagged = scanned.withColumn(
        "late", F.col("ts_sec") < F.col("seen_max") - 60
    )
    out = (
        flagged.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "n_late",
            F.round(F.col("n_late") / F.col("n_events"), 4).alias("late_frac"),
        )
    )
    return out.orderBy("hour")


def _late_arrival_oracle() -> str:
    from testlog_etl_spark import oracles as _o

    h = _o.xxh64_sql("event_id::VARCHAR")
    return f"""
WITH e AS (
  SELECT event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CAST(floor(epoch(ts)) AS BIGINT)
           + (({h}) % 120 + 120) % 120 AS arr_sec
  FROM events
),
w AS (
  SELECT *,
         max(ts_sec) OVER (
           ORDER BY arr_sec, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_max
  FROM e
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n_events,
       CAST(SUM(CASE WHEN ts_sec < seen_max - 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(SUM(CASE WHEN ts_sec < seen_max - 60 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS late_frac
FROM w
GROUP BY date_trunc('hour', ts)
ORDER BY hour
"""


from testlog_etl_spark.suite import REGISTRY as _REG3  # noqa: E402

_REG3["stream_late_arrival_audit"].oracle = _late_arrival_oracle()


@register(
    "stream_topk_maintenance",
    doc="incremental global top-k maintenance via foreachBatch "
    "(streaming/jobs.py::foreach_batch_topk): each micro-batch's "
    "LOCAL top-10 (value desc, event_id asc -- a total order, so the "
    "result can never flap on ties) merges into a k-row sink table "
    "that is the ONLY state -- bounded memory however long the stream "
    "runs, the leaderboard shape a complete-mode memory sink would "
    "hold unbounded state for. Top-k over a union is associative and "
    "idempotent on a total order, so the final table equals the "
    "one-shot batch top-k however the input was split into batches -- "
    "exactly what the oracle asserts.",
    oracle="""
SELECT event_id, user_id, event_type, ROUND("value", 4) AS value
FROM events
ORDER BY "value" DESC, event_id
LIMIT 10
""",
)
def stream_topk_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    t1, t2 = "2024-01-11 00:00:00", "2024-01-21 00:00:00"
    parts = []
    for lo, hi in ((None, t1), (t1, t2), (t2, None)):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        parts.append(part)
    in_dir = jobs.stage_stream_batches(parts, "topk_maint")
    out_dir = jobs.fresh_scratch_dir("topk_maint_out", 600)
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    jobs.foreach_batch_topk(
        spark, in_dir, out_dir, f"stream_topk_{uuid.uuid4().hex[:8]}"
    )
    out = spark.read.parquet(out_dir)
    return out.select(
        "event_id", "user_id", "event_type", F.round("value", 4).alias("value")
    ).orderBy(F.desc("value"), F.asc("event_id"))


@register(
    "stream_lambda_backfill_union",
    doc="lambda-architecture serving view: a BATCH history (events "
    "before the cutover, read as plain parquet) unioned with a "
    "STREAMING tail (files arriving after cutover, drained through a "
    "micro-batch aggregation) -- where the tail's second micro-batch "
    "deliberately RE-DELIVERS the first one's last day (how real "
    "backfill/retry seams look) and watermarked stateful "
    "dropDuplicates on event_id counts each replayed id once. Batch partials "
    "and stream partials then merge by key re-aggregation (the same "
    "partial+final contract as the aggregate MV), so the served view "
    "equals the single-table batch answer EXACTLY -- the lambda "
    "correctness claim. At 100 TB the history side is one immutable "
    "pre-aggregated table; only the tail re-aggregates per batch.",
    oracle="""
SELECT event_type, count(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_lambda_backfill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-21 00:00:00"
    history = ev.filter(F.col("ts") < F.lit(cut).cast("timestamp"))
    tail = ev.filter(F.col("ts") >= F.lit(cut).cast("timestamp"))
    # the tail arrives as two micro-batches whose seam OVERLAPS: batch 2
    # re-delivers batch 1's last day (how real backfill/retry seams look)
    mid = "2024-01-26 00:00:00"
    t1 = tail.filter(F.col("ts") < F.lit(mid).cast("timestamp"))
    replay = t1.filter(F.col("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp"))
    t2 = tail.filter(F.col("ts") >= F.lit(mid).cast("timestamp")).unionByName(replay)
    in_dir = jobs.stage_stream_batches([t1, t2], "lambda_tail")

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    # seam dedup: the replayed ids must count ONCE across micro-batches --
    # id-keyed stateful dropDuplicates is the idempotence guard (a
    # wall-clock filter could not tell a replay from a late arrival)
    deduped = stream.withWatermark("ts", "7 days").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    tail_view = jobs.run_to_completion(agg, f"lambda_{uuid.uuid4().hex[:8]}")

    hist_view = history.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    merged = (
        hist_view.unionByName(tail_view)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.round(F.sum("sum_value"), 4).alias("sum_value"))
    )
    return merged.orderBy("event_type")


@register(
    "stream_histogram_quantile_maintenance",
    doc="streaming maintenance of the mergeable 64-bin histogram "
    "sketch (agg_binned_quantile's streaming sibling): micro-batches "
    "fold (event_type, bin) counts into complete-mode state -- "
    "integer adds, so the maintained state after the last batch is "
    "BIT-EQUAL to the batch histogram, which is what the oracle "
    "recomputes, quantile walk included. Bin bounds are fixed "
    "constants computed batch-side first (the sketch's contract: "
    "bounds are config, not data). Emits per-type p50/p90 upper bin "
    "edges -- one-bin-width error by construction.",
    oracle="""
WITH b AS (
  SELECT event_type,
         least(CAST(floor(("value" - 0.0) / (100.0 - 0.0) * 64) AS INT), 63) AS bin,
         count(*)::BIGINT AS c
  FROM events WHERE "value" IS NOT NULL AND "value" >= 0.0 AND "value" <= 100.0
  GROUP BY 1, 2
),
t AS (SELECT event_type, SUM(c) AS n FROM b GROUP BY 1),
cum AS (
  SELECT b.event_type, b.bin, b.c,
         SUM(b.c) OVER (PARTITION BY b.event_type ORDER BY b.bin) AS cum_c, t.n
  FROM b JOIN t USING (event_type)
),
q AS (
  SELECT event_type,
         MIN(CASE WHEN cum_c >= 0.5 * n THEN bin END) AS p50_bin,
         MIN(CASE WHEN cum_c >= 0.9 * n THEN bin END) AS p90_bin,
         MAX(n)::BIGINT AS n
  FROM cum GROUP BY event_type
)
SELECT event_type, n,
       ROUND((p50_bin + 1) * (100.0 - 0.0) / 64, 6) AS p50_upper_edge,
       ROUND((p90_bin + 1) * (100.0 - 0.0) / 64, 6) AS p90_upper_edge
FROM q ORDER BY event_type
""",
)
def stream_histogram_quantile_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from testlog_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    in_dir = jobs.stage_stream_input(ev, "hist_sketch")
    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    lo, hi, nbins = 0.0, 100.0, 64
    binned = (
        stream.filter(F.col("value").isNotNull() & F.col("value").between(lo, hi))
        .withColumn(
            "bin",
            F.least(
                F.floor((F.col("value") - lo) / (hi - lo) * nbins).cast("int"),
                F.lit(nbins - 1),
            ),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qname = f"hist_sketch_{uuid.uuid4().hex[:8]}"
    q = binned.writeStream.outputMode("complete").format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # snapshot the memory sink: self-joining the live sink view trips an
    # analyzer INTERNAL_ERROR; the state is <= |types| x 64 rows, so a
    # driver-bounded copy is the honest read-out-of-state step anyway
    mem = spark.table(qname)
    hist = spark.createDataFrame(mem.collect(), mem.schema)
    from pyspark.sql import Window as W

    t = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
    cum = hist.join(t, "event_type").withColumn(
        "cum_c", F.sum("c").over(W.partitionBy("event_type").orderBy("bin"))
    )
    qq = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum_c") >= 0.5 * F.col("n"), F.col("bin"))).alias("p50_bin"),
        F.min(F.when(F.col("cum_c") >= 0.9 * F.col("n"), F.col("bin"))).alias("p90_bin"),
        F.max("n").alias("n"),
    )
    return qq.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round((F.col("p50_bin") + 1) * (hi - lo) / nbins, 6).alias("p50_upper_edge"),
        F.round((F.col("p90_bin") + 1) * (hi - lo) / nbins, 6).alias("p90_upper_edge"),
    ).orderBy("event_type")
