"""Oracle-paired aggregate queries (SURVEY SS2.4 A1-A14) through the JX
query runner. Engine-difference traps handled explicitly:

- exact `median`/`percentile` (Spark) == quantile_cont (DuckDB): both
  linear-interpolate, so rounded values match;
- `cardinality` is exact here (count_distinct); the reference's ES
  backend is HLL-approximate -- exposed as `cardinality_approx`, which has
  no cross-engine oracle by nature;
- skew/kurtosis: Spark's built-ins are population moments, DuckDB's are
  sample-corrected -- NOT comparable. The stats query computes both sides
  from the same raw-moment formula so the oracle tests arithmetic, not
  two engines' bias conventions. The JX `stats` aggregate itself (Spark
  built-ins) is covered by engine unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from testlog_etl_spark.query import run_jx
from testlog_etl_spark.suite import register
from testlog_etl_spark.tables import load_table, load_tables

R = 4


@register(
    "agg_basic_groupby",
    doc="count(*)/count(col)/sum/avg/min/max via the JX runner (A1-A4).",
    oracle=f"""
SELECT
  l_returnflag,
  count(*) AS n_rows,
  count(l_quantity) AS n_qty,
  ROUND(SUM(l_quantity), {R}) AS sum_qty,
  ROUND(AVG(l_extendedprice), {R}) AS avg_price,
  CAST(min(l_shipdate) AS DATE) AS first_ship,
  CAST(max(l_shipdate) AS DATE) AS last_ship
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    bench=True,
)
def agg_basic_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir, ("lineitem",))
    out = run_jx(
        spark,
        {
            "from": "lineitem",
            "groupby": "l_returnflag",
            "select": [
                {"name": "n_rows", "value": ".", "aggregate": "count"},
                {"name": "n_qty", "value": "l_quantity", "aggregate": "count"},
                {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
                {"name": "avg_price", "value": "l_extendedprice", "aggregate": "average"},
                {"name": "first_ship", "value": "l_shipdate", "aggregate": "min"},
                {"name": "last_ship", "value": "l_shipdate", "aggregate": "max"},
            ],
            "sort": "l_returnflag",
        },
        tables,
    )
    return (
        out.withColumn("sum_qty", F.round("sum_qty", R))
        .withColumn("avg_price", F.round("avg_price", R))
        # DATE output: TZ- and storage-flavor-proof -- an instant output
        # re-renders through the collecting process's OS timezone
        # (r06 TZ sweep); the calendar date is identical under
        # instant/UTC-session and NTZ storage alike
        .withColumn("first_ship", F.col("first_ship").cast("date"))
        .withColumn("last_ship", F.col("last_ship").cast("date"))
    )


@register(
    "agg_cardinality_median",
    doc="exact distinct count (A5), exact median (A6), exact percentile "
    "(A7) -- Spark percentile() and DuckDB quantile_cont interpolate "
    "identically.",
    oracle=f"""
SELECT
  l_linestatus,
  count(DISTINCT l_partkey) AS n_parts,
  ROUND(median(l_quantity), {R}) AS med_qty,
  ROUND(quantile_cont(l_extendedprice, 0.9), {R}) AS p90_price
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def agg_cardinality_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir, ("lineitem",))
    out = run_jx(
        spark,
        {
            "from": "lineitem",
            "groupby": "l_linestatus",
            "select": [
                {"name": "n_parts", "value": "l_partkey", "aggregate": "cardinality"},
                {"name": "med_qty", "value": "l_quantity", "aggregate": "median"},
                {"name": "p90_price", "value": "l_extendedprice", "aggregate": "percentile", "percentile": 0.9},
            ],
            "sort": "l_linestatus",
        },
        tables,
    )
    return out.withColumn("med_qty", F.round("med_qty", R)).withColumn("p90_price", F.round("p90_price", R))


@register(
    "agg_stats_moments",
    doc="the reference's `stats` blob (A8) as raw-moment arithmetic, "
    "spelled identically on both engines (see module docstring).",
    oracle="""
WITH m AS (
  SELECT c_mktsegment,
         count(c_acctbal) AS n,
         SUM(c_acctbal) AS s1,
         SUM(c_acctbal * c_acctbal) AS s2
  FROM customer GROUP BY c_mktsegment
)
SELECT
  c_mktsegment,
  n AS cnt,
  ROUND(s1 / n, 4) AS mean,
  ROUND(s2 / n - (s1 / n) * (s1 / n), 2) AS variance
FROM m
ORDER BY c_mktsegment
""",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    b = F.col("c_acctbal")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(b).alias("n"),
            F.sum(b).alias("s1"),
            F.sum(b * b).alias("s2"),
        )
        .select(
            "c_mktsegment",
            F.col("n").alias("cnt"),
            F.round(F.col("s1") / F.col("n"), 4).alias("mean"),
            F.round(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")), 2).alias("variance"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_union_list",
    doc="set-union aggregate (A9) stringified deterministically (sorted + "
    "joined) so unordered collections hash identically cross-engine.",
    oracle="""
SELECT
  l_returnflag,
  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
  count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_union_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir, ("lineitem",))
    out = run_jx(
        spark,
        {
            "from": "lineitem",
            "groupby": "l_returnflag",
            "select": [
                {"name": "statuses", "value": "l_linestatus", "aggregate": "union"},
                {"name": "n", "value": ".", "aggregate": "count"},
            ],
            "sort": "l_returnflag",
        },
        tables,
    )
    return out.withColumn("statuses", F.array_join("statuses", ","))


@register(
    "agg_bool_and_or",
    doc="boolean all/any aggregates (A13).",
    oracle="""
SELECT
  event_type,
  bool_and(value > 10) AS all_gt10,
  bool_or(value > 190) AS any_gt190,
  count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_bool_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir, ("events",))
    return run_jx(
        spark,
        {
            "from": "events",
            "groupby": "event_type",
            "select": [
                {"name": "all_gt10", "value": {"gt": ["value", 10]}, "aggregate": "and"},
                {"name": "any_gt190", "value": {"gt": ["value", 190]}, "aggregate": "or"},
                {"name": "n", "value": ".", "aggregate": "count"},
            ],
            "sort": "event_type",
        },
        tables,
    )


@register(
    "agg_value_one",
    doc="`value`/`one` aggregate (A11): the single value per group "
    "(orders have exactly one status per key in this slice).",
    oracle="""
SELECT o_custkey, count(*) AS n_orders,
       min(o_orderstatus) AS any_status
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
LIMIT 200
""",
)
def agg_value_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = load_tables(spark, sf_dir, ("orders",))
    return run_jx(
        spark,
        {
            "from": "orders",
            "groupby": "o_custkey",
            "select": [
                {"name": "n_orders", "value": ".", "aggregate": "count"},
                {"name": "any_status", "value": "o_orderstatus", "aggregate": "min"},
            ],
            "sort": "o_custkey",
            "limit": 200,
        },
        tables,
    )


@register(
    "agg_first_last",
    doc="A12 first/last as group aggregates, deterministic via min_by/"
    "max_by on event time ((user_id, ts) is unique in the driver data at "
    "every SF; the tie-safe window form is etl_dedup_latest). Spark "
    "min_by/max_by <-> DuckDB arg_min/arg_max. Plain `first` without an "
    "order is only meaningful inside the window operator (W6).",
    oracle="""
SELECT user_id,
  arg_min(event_id, ts) AS first_event,
  arg_max(event_id, ts) AS last_event,
  arg_min(event_type, ts) AS first_type,
  arg_max("value", ts) AS last_value,
  count(*) AS n
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def agg_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return (
        ev.groupBy("user_id")
        .agg(
            F.min_by("event_id", "ts").alias("first_event"),
            F.max_by("event_id", "ts").alias("last_event"),
            F.min_by("event_type", "ts").alias("first_type"),
            F.max_by("value", "ts").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


@register(
    "agg_sketch_rollup",
    doc="mergeable-sketch rollup (the ingest-reduce / query-merge "
    "pattern): per-(type, day) HLL sketch rows merged to per-type "
    "approx distinct users + exact row counts, raw table scanned once "
    "(operators/sketches.py). Exact-oracled since r05 (VERDICT r04 "
    "item 8): the HLL ESTIMATE value is engine-specific (DataSketches "
    "registers vs DuckDB's HLL) and can never hash-match, so the "
    "output carries the sketch CONTRACT instead -- within_5pct "
    "(merged estimate vs exact distinct, both computed in-query) and "
    "merge_exact (merged daily sketches == one direct sketch, the "
    "lattice-join invariant). The oracle states those booleans as "
    "literal TRUE: the driver hash then FAILS the row if Spark's "
    "sketches ever break accuracy or mergeability, while n_rows and "
    "exact_distinct are genuinely cross-checked against DuckDB. "
    "(lgK=12 keeps HLL relative error ~1.6%; the 5%% bound is the one "
    "unit tests pin, comfortably engine-stable at any SF.)",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       TRUE AS within_5pct,
       TRUE AS merge_exact
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sketches import merge_sketches, sketch_by

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = sketch_by(ev.withColumn("day", F.to_date("ts")), ["event_type", "day"], "user_id")
    merged = merge_sketches(daily, ["event_type"])
    direct = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
        .cast("long")
        .alias("_direct_est"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("within_5pct"),
            (F.col("approx_distinct") == F.col("_direct_est")).alias("merge_exact"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_weighted_median",
    doc="weighted median (A6 widened): smallest price whose cumulative "
    "QUANTITY weight reaches half the group's total -- the "
    "importance-weighted statistic Spark has no built-in for "
    "(percentile() weighs rows equally). Per-group ordered cumsum via "
    "a PARTITIONED window (group grain bounded by the flag domain, "
    "never a global window); the crossing row is picked by min-struct, "
    "deterministic because the (price, orderkey, linenumber) order is "
    "total. Quantities are integral doubles, so cumulative sums are "
    "exact in both engines and the >= tot/2 boundary cannot drift.",
    oracle="""
WITH w AS (
  SELECT l_returnflag, l_extendedprice, l_quantity,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n,
       ROUND(any_value(tot), 4) AS tot_weight,
       ROUND(MIN(CASE WHEN cum >= tot / 2.0 THEN l_extendedprice END), 4) AS weighted_median
FROM w GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    wo = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("l_returnflag")
    c = li.withColumn("cum", F.sum("l_quantity").over(wo)).withColumn(
        "tot", F.sum("l_quantity").over(wp)
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.any_value("tot"), 4).alias("tot_weight"),
            F.round(
                F.min(F.when(F.col("cum") >= F.col("tot") / 2.0, F.col("l_extendedprice"))), 4
            ).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentile_contract",
    doc="approximate-percentile contract (the TDigest-analog sibling of "
    "agg_sketch_rollup's HLL contract): per type, exact interpolated "
    "p50/p95 cross-checked against DuckDB's quantile_cont, plus "
    "in-query booleans pinning percentile_approx (accuracy 10000 -> "
    "rank error <= n/10000) within 5%% of exact -- the driver hash "
    "fails the row if Spark's sketch ever drifts. The approx VALUE "
    "stays out of the output (t-digest-style internals are "
    "engine-specific, like HLL registers).",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(quantile_cont("value", 0.5), 4) AS exact_p50,
       ROUND(quantile_cont("value", 0.95), 4) AS exact_p95,
       TRUE AS p50_within_5pct,
       TRUE AS p95_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5)").alias("_e50"),
        F.expr("percentile(value, 0.95)").alias("_e95"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("_a50"),
        F.expr("percentile_approx(value, 0.95, 10000)").alias("_a95"),
    )
    within = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.05 * F.abs(F.col(e))  # noqa: E731
    return g.select(
        "event_type",
        "n",
        F.round("_e50", 4).alias("exact_p50"),
        F.round("_e95", 4).alias("exact_p95"),
        within("_a50", "_e50").alias("p50_within_5pct"),
        within("_a95", "_e95").alias("p95_within_5pct"),
    ).orderBy("event_type")


@register(
    "agg_rfm_segments",
    doc="RFM segmentation over orders: per-customer recency (days "
    "before the corpus max date), frequency, monetary; fixed-threshold "
    "segment labels; customers + revenue per segment. One customer "
    "rollup + a broadcast 1-row max-date aggregate; all comparisons on "
    "exact ints/decimals so the segment edges are engine-stable.",
    oracle="""
WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
c AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT mxd FROM mx)) AS rec,
         count(*) AS freq,
         SUM(o_totalprice) AS mon
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CASE WHEN rec <= 30 AND freq >= 10 THEN 'champion'
              WHEN rec <= 90 AND freq >= 5 THEN 'loyal'
              WHEN rec <= 90 THEN 'recent'
              WHEN freq >= 10 THEN 'at_risk'
              ELSE 'hibernating' END AS segment,
         mon
  FROM c
)
SELECT segment, count(*) AS n_customers, ROUND(SUM(mon), 2) AS revenue
FROM s GROUP BY segment ORDER BY segment
""",
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    c = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("o_totalprice").alias("mon"),
        )
        .join(F.broadcast(mx))
        .withColumn("rec", F.datediff(F.col("mxd"), F.col("last")))
    )
    seg = (
        F.when((F.col("rec") <= 30) & (F.col("freq") >= 10), "champion")
        .when((F.col("rec") <= 90) & (F.col("freq") >= 5), "loyal")
        .when(F.col("rec") <= 90, "recent")
        .when(F.col("freq") >= 10, "at_risk")
        .otherwise("hibernating")
    )
    return (
        c.select(seg.alias("segment"), "mon")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("mon"), 2).alias("revenue"))
        .orderBy("segment")
    )


@register(
    "mv_incremental_maintain",
    doc="incremental materialized-view maintenance: a per-customer "
    "revenue MV built from the 80% base slice is brought current by "
    "merging the 20% delta slice's PARTIAL aggregates (union + re-agg "
    "on the key -- counts add, mins min; base never rescanned). The "
    "oracle is the FULL recompute, so the gate proves base+delta "
    "maintenance equals recomputation up to output rounding "
    "(operators/incremental.py).",
    oracle=f"""
SELECT o_custkey, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), {R}) AS revenue,
       ROUND(MIN(o_totalprice), {R}) AS min_price,
       ROUND(MAX(o_totalprice), {R}) AS max_price
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def mv_incremental_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import incremental

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta = orders.filter(F.col("o_orderkey") % 5 == 0)
    measures = {
        "n_orders": ("count", F.lit(1)),
        "revenue": ("sum", F.col("o_totalprice")),
        "min_price": ("min", F.col("o_totalprice")),
        "max_price": ("max", F.col("o_totalprice")),
    }
    mv = incremental.aggregate_partials(base, ["o_custkey"], measures)
    d = incremental.aggregate_partials(delta, ["o_custkey"], measures)
    out = incremental.merge_mv(
        mv, d, ["o_custkey"], {"n_orders": "count", "revenue": "sum", "min_price": "min", "max_price": "max"}
    )
    return out.select(
        "o_custkey",
        "n_orders",
        F.round("revenue", R).alias("revenue"),
        F.round("min_price", R).alias("min_price"),
        F.round("max_price", R).alias("max_price"),
    ).orderBy("o_custkey")


@register(
    "topk_per_group_agg",
    doc="grouped top-k (operators/topk.py): row_number() <= k, which "
    "Catalyst plans as a WindowGroupLimit before and after the group "
    "exchange, so the exchange carries <= k x partitions rows per "
    "group. Top-3 orders by totalprice per priority.",
    bench=True,
    oracle="""
SELECT o_orderpriority, rank, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS INT) AS rank
  FROM orders
)
WHERE rank <= 3
ORDER BY o_orderpriority, rank
""",
)
def topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.topk import grouped_topk

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = grouped_topk(orders, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=3)
    return out.select("o_orderpriority", "rank", "o_orderkey", "o_totalprice").orderBy(
        "o_orderpriority", "rank"
    )


@register(
    "agg_countmin_sketch",
    doc="count-min sketch frequency estimation (operators/sketches.py::"
    "countmin_sketch, d=4 w=64 so collisions are exercised at 150 "
    "keys): the sketch aggregate shuffles at most d x w cells, the "
    "estimate broadcasts the grid. Exactly oracled -- integer counters "
    "over engine-portable md5 hashes (the HLL rollup's exact-arithmetic "
    "sibling); est_n >= true_n always.",
    oracle="""
WITH keys AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY user_id),
h AS (
  SELECT user_id, i,
         CAST(try_cast(('0x' || substr(md5(user_id::VARCHAR || ':cm' || i), 1, 15)) AS BIGINT) % 64 AS INT) AS col
  FROM keys, unnest([0, 1, 2, 3]) AS t(i)
),
cells AS (
  SELECT i, col, CAST(SUM(true_n) AS BIGINT) AS c
  FROM keys JOIN h USING (user_id)
  GROUP BY i, col
)
SELECT k.user_id, k.true_n, est.est_n
FROM keys k
JOIN (SELECT h.user_id, MIN(c) AS est_n FROM h JOIN cells USING (i, col) GROUP BY h.user_id) est
  USING (user_id)
ORDER BY user_id
""",
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sketches import countmin_estimate, countmin_sketch

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sk = countmin_sketch(ev, "user_id", depth=4, width=64)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    est = countmin_estimate(sk, truth.select("user_id"), "user_id", depth=4, width=64)
    return truth.join(est, "user_id").select("user_id", "true_n", "est_n").orderBy("user_id")


@register(
    "ts_ohlc_bars",
    doc="OHLC bar resampling (the financial downsample shape): per "
    "(event_type, hour), open/close = value at the earliest/latest "
    "event, high/low = extremes. One hash-agg shuffle; open/close ride "
    "min_by/max_by over a zero-padded (epoch_us, event_id) string key "
    "-- engines lack composite arg_min keys, a fixed-width string IS "
    "one, portable by construction.",
    oracle="""
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar,
       arg_min("value", okey) AS open,
       max("value") AS high,
       min("value") AS low,
       arg_max("value", okey) AS close,
       count(*) AS n,
       ROUND(SUM("value"), 4) AS volume
FROM (
  SELECT *,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey
  FROM events
)
GROUP BY event_type, bar
ORDER BY event_type, bar
""",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    okey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.withColumn("okey", okey)
        # bar as formatted UTC string -- TZ-proof (see agg_basic_groupby)
        .groupBy("event_type", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bar"))
        .agg(
            F.min_by("value", "okey").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "okey").alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("volume"),
        )
        .orderBy("event_type", "bar")
    )


@register(
    "agg_mad_robust",
    doc="outlier-robust dispersion: per-event-type median absolute "
    "deviation (MAD = median(|x - median(x)|)) plus the robust z-score "
    "count beyond 3 scaled MADs. Two exact-percentile passes over one "
    "scan lineage, joined back on the tiny type key -- the robust "
    "sibling of agg_stats_moments (stddev is one bad row away from "
    "useless at corpus scale; MAD is 50%-breakdown).",
    oracle="""
WITH med AS (
  SELECT event_type, median("value") AS med_v FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type,
         ROUND(median(abs("value" - med_v)), 4) AS mad,
         ROUND(any_value(med_v), 4) AS med_v
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type, d.med_v, d.mad,
       CAST(SUM(CASE WHEN abs("value" - (SELECT med_v FROM med m WHERE m.event_type = e.event_type))
                      > 3 * 1.4826 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN dev d ON e.event_type = d.event_type
GROUP BY e.event_type, d.med_v, d.mad
ORDER BY e.event_type
""",
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    med = ev.groupBy("event_type").agg(F.median("value").alias("med_v"))
    with_med = ev.join(F.broadcast(med), "event_type")
    dev = with_med.groupBy("event_type").agg(
        F.round(F.median(F.abs(F.col("value") - F.col("med_v"))), 4).alias("mad"),
        F.round(F.any_value("med_v"), 4).alias("med_v_r"),
    )
    return (
        with_med.join(F.broadcast(dev), "event_type")
        .groupBy("event_type", F.col("med_v_r").alias("med_v"), "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med_v")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .orderBy("event_type")
    )


@register(
    "agg_histogram_quantile",
    doc="mergeable equi-width histogram sketch + in-grid quantile "
    "estimate (operators/sketches.py): integral bin counts per "
    "event_type (exact arithmetic, cell-wise mergeable -- the exact "
    "sibling of the HLL rollup, like count-min), p50/p90 interpolated "
    "inside the crossing bin. Estimate accuracy vs the exact "
    "percentile is bounded by bin width; the oracle replays the "
    "identical grid arithmetic, so the match is exact.",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(least(63, greatest(0, floor(("value" - 0.0) / (1000.0 / 64)))) AS INT) AS bin,
         count(*)::BIGINT AS cnt
  FROM events GROUP BY event_type, bin
),
c AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM s
),
h AS (
  SELECT event_type,
         arg_min(bin, bin) FILTER (cum >= 0.5 * n) AS b50,
         arg_min(cum, bin) FILTER (cum >= 0.5 * n) AS c50,
         arg_min(cnt, bin) FILTER (cum >= 0.5 * n) AS k50,
         arg_min(bin, bin) FILTER (cum >= 0.9 * n) AS b90,
         arg_min(cum, bin) FILTER (cum >= 0.9 * n) AS c90,
         arg_min(cnt, bin) FILTER (cum >= 0.9 * n) AS k90,
         any_value(n) AS n
  FROM c GROUP BY event_type
)
SELECT event_type,
       ROUND(0.0 + (b50 + (0.5 * n - (c50 - k50)) / k50) * (1000.0 / 64), 4) AS p50_est,
       ROUND(0.0 + (b90 + (0.9 * n - (c90 - k90)) / k90) * (1000.0 / 64), 4) AS p90_est
FROM h ORDER BY event_type
""",
)
def agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sketches import histogram_quantile, histogram_sketch

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sk = histogram_sketch(ev, "event_type", "value", lo=0.0, hi=1000.0, bins=64)
    p50 = histogram_quantile(sk, "event_type", 0.5, 0.0, 1000.0, 64).withColumnRenamed(
        "q_est", "p50_raw"
    )
    p90 = histogram_quantile(sk, "event_type", 0.9, 0.0, 1000.0, 64).withColumnRenamed(
        "q_est", "p90_raw"
    )
    return (
        p50.join(p90, "event_type")
        .select(
            "event_type",
            F.round("p50_raw", 4).alias("p50_est"),
            F.round("p90_raw", 4).alias("p90_est"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_gini_concentration",
    doc="Gini coefficient of revenue concentration across customers "
    "(the inequality metric): exact closed form over the rank-ordered "
    "per-customer revenue, G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n. One "
    "rollup to customer grain, global rank via the hierarchical scan "
    "(operators/scan.py -- the customer grain SCALES with the data, so "
    "no unpartitioned window), one final aggregate; ranks are unique "
    "via the (revenue, custkey) tie-break so both engines order "
    "identically.",
    oracle="""
WITH r AS (
  SELECT o_custkey, SUM(o_totalprice) AS rev FROM orders GROUP BY o_custkey
),
k AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i, count(*) OVER () AS n
  FROM r
)
SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
       ROUND(2.0 * SUM(i * rev) / (any_value(n) * SUM(rev)) - (any_value(n) + 1.0) / any_value(n), 4) AS gini
FROM k
""",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    r = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    # global rank via the in-plan bucketed scan (r12: literal boundary/
    # offset fold, one exchange, no Python), NOT Window.orderBy with no
    # partitioning: the rank runs over the CUSTOMER grain, which scales
    # with the data (~1.5e10 rows at 100 TB TPC-H) -- an unpartitioned
    # window would put the whole rollup in one task. n rides along free.
    k = global_scan(r, [ScanSpec(("rev", "o_custkey"), rank="i", n="n")])
    nd = F.col("n").cast("double")
    return k.agg(
        F.any_value(F.col("n")).alias("n_customers"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("rev")) / (F.any_value(nd) * F.sum("rev"))
            - (F.any_value(nd) + 1.0) / F.any_value(nd),
            4,
        ).alias("gini"),
    )


@register(
    "agg_abc_pareto",
    doc="ABC / Pareto classification: parts ranked by revenue, class A "
    "= the head covering 80% of cumulative revenue, B to 95%, C the "
    "tail. Cumulative share via the hierarchical scan over the per-part "
    "rollup (operators/scan.py -- the part grain scales with the data, "
    "so no unpartitioned window); per-class part counts and revenue "
    "shares out.",
    oracle="""
WITH r AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem GROUP BY l_partkey
),
ri AS (
  SELECT l_partkey, ROUND(rev * 10000, 0) AS rev_i FROM r
),
c AS (
  SELECT rev_i,
         SUM(rev_i) OVER (ORDER BY rev_i DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev_i) OVER () AS tot
  FROM ri
)
SELECT CASE WHEN cum / tot <= 0.80 THEN 'A'
            WHEN cum / tot <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       ROUND(SUM(rev_i) / any_value(tot), 4) AS revenue_share
FROM c GROUP BY abc_class ORDER BY abc_class
""",
)
def agg_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    r = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev")
    )
    # integral-cents grid (ADVICE r05): ROUND(rev,4)*1e4 rounds to an
    # INTEGRAL double, so every partial/cumulative sum on both engines
    # is exact up to 2^53 regardless of fold order -- the scan's
    # partition-offset association vs the oracle's sequential window
    # cannot drift the cum/tot 0.80/0.95 class boundary. Ratios and
    # shares of exact integrals are single IEEE ops on identical
    # operands, hence bit-identical across engines.
    ri = r.withColumn("rev_i", F.round(F.col("rev") * 10000, 0))
    # cumulative revenue via the in-plan bucketed scan (r12), NOT an
    # unpartitioned window: the scan runs over the PART grain, which
    # scales with the data (~2e10 rows at 100 TB TPC-H). The grand
    # total falls out of the same bounded rollup.
    c = global_scan(
        ri, [ScanSpec(("rev_i desc", "l_partkey"), val="rev_i", cum="cum", total="tot")]
    )
    cls = (
        F.when(F.col("cum") / F.col("tot") <= 0.80, "A")
        .when(F.col("cum") / F.col("tot") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        c.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("rev_i") / F.any_value("tot"), 4).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "agg_cube_grouping",
    doc="full CUBE over (event_type, ISO-dow) with grouping-id "
    "disambiguation (A16 widened past rollup: all 4 aggregation "
    "levels in ONE pass -- Spark plans a single expand+aggregate, not "
    "4 scans). NULL group values are real only where grouping says "
    "so; the gid column is what makes subtotal rows machine-readable.",
    oracle="""
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(CAST(isodow(ts) AS INT), -1) AS dow,
       CAST(GROUPING(event_type) * 2 + GROUPING(isodow(ts)) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(SUM("value"), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, isodow(ts))
ORDER BY gid, event_type, dow
""",
)
def agg_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    dow = F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int")
    return (
        ev.cube(F.col("event_type"), dow.alias("dow"))
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "gid",
            "n",
            "sum_value",
        )
        .orderBy("gid", "event_type", "dow")
    )


@register(
    "agg_supplier_hhi",
    doc="Herfindahl-Hirschman concentration index of supplier revenue "
    "per part type: sum of squared market shares x 10000 (the "
    "antitrust scale). One (type, supplier) rollup; per-type totals "
    "broadcast back; integral-cent-free double sums rounded at the "
    "index, shares exact relative to their own rounded revenue.",
    oracle="""
WITH r AS (
  SELECT p_type, l_suppkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_type, l_suppkey
),
t AS (SELECT p_type, SUM(rev) AS tot, count(*) AS n_suppliers FROM r GROUP BY p_type)
SELECT r.p_type AS p_type,
       CAST(any_value(n_suppliers) AS BIGINT) AS n_suppliers,
       ROUND(SUM(pow(rev / tot, 2)) * 10000, 4) AS hhi
FROM r JOIN t ON t.p_type = r.p_type
GROUP BY r.p_type ORDER BY p_type
""",
)
def agg_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    r = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev")
        )
    )
    tot = r.groupBy(F.col("p_type").alias("tp")).agg(
        F.sum("rev").alias("tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        r.join(F.broadcast(tot), F.col("p_type") == F.col("tp"))
        .groupBy("p_type")
        .agg(
            F.any_value("n_suppliers").cast("long").alias("n_suppliers"),
            F.round(F.sum(F.pow(F.col("rev") / F.col("tot"), 2)) * 10000, 4).alias("hhi"),
        )
        .orderBy("p_type")
    )


@register(
    "topk_global_paging",
    doc="deterministic keyset pagination at scale: page 3 (ranks "
    "101-150) of parts by revenue. LIMIT/OFFSET pulls offset+limit "
    "rows into one task and re-sorts per page; the in-plan bucketed "
    "scan (operators/scan.py::global_scan) assigns a GLOBAL "
    "rank in one bucket-keyed shuffle (sampled struct boundaries "
    "-> order-contiguous buckets -> subquery offsets + per-bucket "
    "row_number; two bounded scalar subqueries, no range shuffle, no Python "
    "boundary), so any page is a filter on the rank column and deep "
    "pages cost the same as page one. Ordering folds integral cents "
    "(ROUND(rev,4)*1e4) so rank order cannot drift between engines at "
    "ulp-close revenues; ties broken by l_partkey.",
    oracle="""
WITH r AS (
  SELECT l_partkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
  FROM lineitem GROUP BY l_partkey
),
k AS (
  SELECT l_partkey, rev,
         ROW_NUMBER() OVER (ORDER BY ROUND(rev * 10000, 0) DESC, l_partkey) AS i
  FROM r
)
SELECT i, l_partkey, rev FROM k WHERE i BETWEEN 101 AND 150 ORDER BY i
""",
    bench=True,
)
def topk_global_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    r = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev")
    )
    ri = r.withColumn("rev_i", F.round(F.col("rev") * 10000, 0))
    # rank_range (r13): the page only consumes ranks 101-150, so only
    # the covering buckets' rows enter the rank exchange -- a deep page
    # shuffles ~|page buckets|/nb of the rollup instead of all of it.
    # Surviving ranks are exact (each bucket's offset counts every
    # earlier bucket's rows, pruned or not), so the BETWEEN filter
    # below is unchanged.
    k = global_scan(
        ri, [ScanSpec(("rev_i desc", "l_partkey"), rank="i", rank_range=(101, 150))]
    )
    return (
        k.filter(F.col("i").between(101, 150))
        .select("i", "l_partkey", "rev")
        .orderBy("i")
    )


@register(
    "agg_skyline_pareto",
    doc="skyline / Pareto frontier (Borzsonyi et al. ICDE'01): the "
    "parts not dominated in (minimize retail price, maximize size) -- "
    "dominance needs one strict inequality, so exact duplicates "
    "survive together. Spark side is the local-prune-then-merge "
    "operator (operators/skyline.py): per-partition Arrow frontier, "
    "then the exact frontier of the tiny candidate union -- no global "
    "sort, no O(n^2) join; the oracle states the O(n^2) NOT EXISTS "
    "contract directly.",
    oracle="""
SELECT a.p_partkey, ROUND(a.p_retailprice, 2) AS price, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY a.p_partkey
""",
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.skyline import pareto_frontier_2d

    part = load_tables(spark, sf_dir, ("part",))["part"]
    pts = part.select("p_partkey", "p_retailprice", "p_size")
    front = pareto_frontier_2d(pts, "p_retailprice", "p_size")
    return front.select(
        "p_partkey", F.round("p_retailprice", 2).alias("price"), "p_size"
    ).orderBy("p_partkey")


@register(
    "agg_heavyhitters_mg",
    doc="EXACT heavy-hitter terms (count > n/k, k=500) located by "
    "per-partition Misra-Gries summaries (operators/sketches.py): the "
    "MG recall bound guarantees every global heavy hitter survives "
    "some partition's k counters, so one verification scan counting "
    "ONLY the <= k*parts candidates (broadcast semi-filter before the "
    "aggregate) returns exact counts without ever shuffling the full "
    "vocabulary -- the frequent-terms pattern where distinct terms "
    "dwarf executor memory. Oracle is the direct GROUP BY ... HAVING "
    "twin (vocabulary fits DuckDB at sf0.01).",
    bench=True,
    oracle="""
WITH t AS (
  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS item
  FROM documents WHERE text IS NOT NULL
),
n AS (SELECT count(*) AS n FROM t)
SELECT item, count(*) AS cnt,
       ROUND(count(*) * 1.0 / (SELECT n FROM n), 6) AS share
FROM t GROUP BY item
HAVING count(*) * 500 > (SELECT n FROM n)
ORDER BY cnt DESC, item
""",
)
def agg_heavyhitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import textstats
    from testlog_etl_spark.operators.sketches import heavy_hitters_exact

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    terms = docs.where(F.col("text").isNotNull()).select(
        F.explode(textstats.tokens(F.col("text"))).alias("term")
    )
    # n rides the MG summary pass (r12): the corpus is tokenized exactly
    # twice (MG + verification) instead of three times
    hh = heavy_hitters_exact(terms, "term", k=500)
    return hh.select(
        "item",
        "cnt",
        F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
    ).orderBy(F.desc("cnt"), "item")


@register(
    "agg_sample_estimate",
    doc="approximate-query-processing readout: a deterministic 1/16 "
    "hash sample (xxhash64 of the line's composite key, pmod 16 == 0 "
    "-- engine-portable via the generated XXH64 SQL twin) estimates "
    "per-returnflag revenue and row count; exact values joined "
    "alongside with relative error. At 100 TB the sample predicate "
    "cuts the aggregate's input 16x at the scan (hash of key columns, "
    "no correlated bias); the exact pass here exists only to grade "
    "the estimator.",
    oracle=None,  # filled below: needs the generated xxh64 SQL
)
def agg_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = li.select(
        "l_returnflag",
        rev.alias("rev"),
        (F.pmod(F.xxhash64(key), F.lit(16)) == 0).alias("in_sample"),
    )
    agg = base.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias("n_sample"),
        F.round(F.sum(F.when(F.col("in_sample"), F.col("rev"))) * 16, 2).alias("est_rev"),
        F.round(F.sum("rev"), 2).alias("exact_rev"),
        F.count(F.lit(1)).alias("exact_n"),
    )
    return agg.select(
        "l_returnflag",
        "n_sample",
        (F.col("n_sample") * 16).alias("est_n"),
        "exact_n",
        "est_rev",
        "exact_rev",
        F.round((F.col("est_rev") - F.col("exact_rev")) / F.col("exact_rev") * 100, 3).alias(
            "rel_err_pct"
        ),
    ).orderBy("l_returnflag")


def _sample_estimate_oracle() -> str:
    from testlog_etl_spark import oracles as _o

    h = _o.xxh64_sql("l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR")
    return f"""
WITH base AS (
  SELECT l_returnflag,
         l_extendedprice * (1 - l_discount) AS rev,
         (({h}) % 16 + 16) % 16 = 0 AS in_sample
  FROM lineitem
),
agg AS (
  SELECT l_returnflag,
         CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         ROUND(SUM(CASE WHEN in_sample THEN rev END) * 16, 2) AS est_rev,
         ROUND(SUM(rev), 2) AS exact_rev,
         count(*) AS exact_n
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n_sample, n_sample * 16 AS est_n, exact_n, est_rev, exact_rev,
       ROUND((est_rev - exact_rev) / exact_rev * 100, 3) AS rel_err_pct
FROM agg ORDER BY l_returnflag
"""


from testlog_etl_spark.suite import REGISTRY as _REG  # noqa: E402

_REG["agg_sample_estimate"].oracle = _sample_estimate_oracle()


@register(
    "agg_bitmap_distinct",
    doc="exact mergeable distinct sketch (flat roaring-bitmap form, "
    "operators/sketches.py::bitmap_words): per-DAY (word, 64-bit word) "
    "bitmap rows over event user ids, merged to ISO weeks by bitwise "
    "OR + popcount -- the HLL rollup pattern (ingest-granular sketch, "
    "query-time merge, raw rows touched once) but EXACT for dense int "
    "id domains. The weekly readout carries the daily sketch-row count "
    "so the state/accuracy trade vs HLL is visible in the result. "
    "Oracle recomputes weekly exact distincts directly.",
    oracle="""
WITH d AS (
  SELECT datediff('day', DATE '2024-01-01', ts::DATE) // 7 AS week,
         ts::DATE AS day, user_id
  FROM events
),
words AS (
  SELECT week, day, user_id // 64 AS w
  FROM d GROUP BY week, day, user_id // 64
),
wc AS (SELECT week, count(*) AS n_sketch_rows FROM words GROUP BY week)
SELECT d.week, count(DISTINCT d.user_id) AS n_users,
       (SELECT n_sketch_rows FROM wc WHERE wc.week = d.week) AS n_sketch_rows
FROM d GROUP BY d.week ORDER BY week
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sketches import bitmap_merge_distinct, bitmap_words

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
        ).cast("long").alias("week"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    daily = bitmap_words(base, ["week", "day"], "user_id")  # ingest-grain sketch
    weekly = bitmap_merge_distinct(daily, ["week"], out="n_users")
    rows = daily.groupBy("week").agg(F.count(F.lit(1)).alias("n_sketch_rows"))
    return weekly.join(rows, "week").select("week", "n_users", "n_sketch_rows").orderBy("week")


@register(
    "agg_largest_remainder",
    doc="exact integer apportionment (Hamilton / largest-remainder "
    "method): 1000 seats split across nations proportional to customer "
    "count. ALL-INTEGER arithmetic -- base = (seats*cnt) div total, "
    "remainder = (seats*cnt) mod total, leftover seats to the largest "
    "remainders (nation name tiebreak) -- so the allocation is "
    "engine-exact with no float ranking anywhere. The ranking window "
    "runs over the 25-row nation rollup (bounded by construction, "
    "window-lint whitelisted), never the raw fact table.",
    oracle="""
WITH c AS (
  SELECT n_name, count(*)::BIGINT AS cnt
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
b AS (
  SELECT n_name, cnt,
         (1000 * cnt) // (SELECT SUM(cnt) FROM c) AS base,
         (1000 * cnt) % (SELECT SUM(cnt) FROM c) AS rem
  FROM c
),
l AS (SELECT 1000 - SUM(base) AS leftover FROM b),
r AS (
  SELECT n_name, cnt, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rk
  FROM b
)
SELECT n_name, cnt AS customers,
       CAST(base + CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END AS BIGINT) AS seats
FROM r
ORDER BY n_name
""",
)
def agg_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ("customer", "nation"))
    c = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = c.agg(F.sum("cnt").alias("tot"))
    b = c.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "cnt",
        F.expr("(1000 * cnt) div tot").alias("base"),
        F.pmod(1000 * F.col("cnt"), F.col("tot")).alias("rem"),
    )
    leftover = b.agg((F.lit(1000) - F.sum("base")).alias("leftover"))
    # bounded-by-construction window: 25 nation rows post-rollup
    rk = F.row_number().over(Window.orderBy(F.desc("rem"), "n_name"))
    return (
        b.withColumn("rk", rk)
        .crossJoin(F.broadcast(leftover))
        .select(
            "n_name",
            F.col("cnt").alias("customers"),
            (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
            .cast("long")
            .alias("seats"),
        )
        .orderBy("n_name")
    )


@register(
    "agg_grouping_sets",
    doc="explicit GROUPING SETS ((flag, status), (flag), ()) -- the "
    "third multi-granularity shape beside CUBE (agg_cube_grouping) and "
    "ROLLUP (setop_rollup), via the native DataFrame groupingSets API "
    "(Spark 4): one scan expands to the three grains inside the "
    "aggregate (Expand node), never three scans. grouping() flags "
    "disambiguate real NULLs from subtotal rows.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       count(*)::BIGINT AS n,
       ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY g_flag, g_status, l_returnflag, l_linestatus
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "sum_qty")
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


@register(
    "agg_decimal_exact_revenue",
    doc="money math WITHOUT float drift: prices and discounts cast to "
    "DECIMAL(18,4) at the scan, revenue summed in exact decimal "
    "arithmetic -- the result is a single exact rational, identical on "
    "any engine, any partitioning, any addition order (the property "
    "the double-typed twins approximate with presentation rounding). "
    "The sums are RENDERED as strings at the output boundary (r07 "
    "driver lesson: DECIMAL(38,4) rides different client paths in "
    "Spark-Arrow vs DuckDB-pandas and the float64 coercion drifts; "
    "the exact-decimal arithmetic underneath is unchanged and the "
    "string render is digit-for-digit identical on any engine).",
    oracle="""
SELECT l_returnflag,
       count(*)::BIGINT AS n,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DECIMAL(38,4)) AS VARCHAR) AS revenue
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    p = F.col("l_extendedprice").cast("decimal(18,4)")
    d = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(p).cast("decimal(38,4)").cast("string").alias("sum_price"),
            F.sum(p * (one - d)).cast("decimal(38,4)").cast("string").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_mode_deterministic",
    doc="deterministic MODE: most frequent l_quantity per returnflag "
    "with the (count desc, value asc) tiebreak spelled out -- both "
    "engines' native mode() leave ties implementation-defined, so the "
    "portable form is the value-count rollup + rank-1 pick. The "
    "ranking window runs over the per-group distinct-value frame "
    "(bounded: 50 quantities), never raw rows.",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_quantity, count(*)::BIGINT AS n
  FROM lineitem GROUP BY l_returnflag, l_quantity
),
t AS (SELECT l_returnflag, SUM(n) AS tot FROM c GROUP BY l_returnflag),
r AS (
  SELECT l_returnflag, l_quantity, n,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rk
  FROM c
)
SELECT r.l_returnflag, r.l_quantity AS mode_qty, r.n AS mode_count,
       ROUND(r.n / t.tot, 6) AS mode_share
FROM r JOIN t ON t.l_returnflag = r.l_returnflag
WHERE r.rk = 1 ORDER BY r.l_returnflag
""",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    c = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy(F.col("l_returnflag").alias("_rf")).agg(F.sum("n").cast("double").alias("tot"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "l_quantity")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(F.broadcast(t), F.col("l_returnflag") == F.col("_rf"))
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("mode_count"),
            F.round(F.col("n") / F.col("tot"), 6).alias("mode_share"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_mean_family",
    doc="the full mean family per returnflag: arithmetic, harmonic "
    "(n / sum(1/x)), geometric (exp(avg(ln x))) over extended price -- "
    "AM >= GM >= HM on positive data, pinned by construction in the "
    "test suite. Geometric via log-space (the only overflow-safe form "
    "at corpus scale); identical expression on both engines, rounded "
    "at presentation.",
    oracle=f"""
SELECT l_returnflag,
       count(*)::BIGINT AS n,
       ROUND(AVG(l_extendedprice), {R}) AS mean_arith,
       ROUND(count(*) / SUM(1.0 / l_extendedprice), {R}) AS mean_harmonic,
       ROUND(exp(AVG(ln(l_extendedprice))), {R}) AS mean_geometric
FROM lineitem WHERE l_extendedprice > 0
GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].filter(
        F.col("l_extendedprice") > 0
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), R).alias("mean_arith"),
            F.round(
                F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("l_extendedprice")), R
            ).alias("mean_harmonic"),
            F.round(F.exp(F.avg(F.log("l_extendedprice"))), R).alias("mean_geometric"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_fiscal_445",
    doc="4-4-5 fiscal-calendar rollup: order dates mapped to fiscal "
    "(quarter, period) by PURE INTEGER week arithmetic from the "
    "2024-01-01 anchor (week w: quarter = w div 13, period within "
    "quarter by the 4/4/5 split of w mod 13) -- no engine week-"
    "numbering conventions anywhere, the retail-calendar sibling of "
    "the ISO-week traps the events queries avoid. Revenue + orders "
    "per fiscal period.",
    oracle="""
WITH w AS (
  SELECT o_totalprice,
         datediff('day', DATE '2024-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) // 7 AS wk
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2024-01-01'
),
f AS (
  SELECT o_totalprice, wk,
         wk // 13 AS fq,
         CASE WHEN wk % 13 < 4 THEN 1 WHEN wk % 13 < 8 THEN 2 ELSE 3 END AS fp
  FROM w
)
SELECT CAST(fq AS BIGINT) AS fiscal_quarter,
       CAST(fp AS INT) AS fiscal_period,
       count(*)::BIGINT AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM f GROUP BY fq, fp ORDER BY fiscal_quarter, fiscal_period
""",
)
def agg_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"].filter(
        F.col("o_orderdate") >= F.lit("2024-01-01").cast("timestamp")
    )
    wk = F.expr(
        "datediff(CAST(date_trunc('day', o_orderdate) AS DATE), DATE '2024-01-01') div 7"
    )
    f = orders.select(
        "o_totalprice",
        wk.alias("wk"),
    ).select(
        "o_totalprice",
        F.expr("wk div 13").alias("fq"),
        F.when(F.pmod("wk", F.lit(13)) < 4, 1)
        .when(F.pmod("wk", F.lit(13)) < 8, 2)
        .otherwise(3)
        .alias("fp"),
    )
    return (
        f.groupBy(
            F.col("fq").cast("long").alias("fiscal_quarter"),
            F.col("fp").cast("int").alias("fiscal_period"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("fiscal_quarter", "fiscal_period")
    )


@register(
    "agg_rollup_cascade",
    doc="re-aggregability proof as a query: monthly revenue computed "
    "THREE ways -- directly from raw orders, from the daily rollup, "
    "and from a weekly (7-day-block) rollup -- with in-query equality "
    "flags the driver hash enforces. SUM/COUNT re-aggregate exactly "
    "(the MV-maintenance property mv_incremental_maintain exercises "
    "incrementally): integer counts are exactly associative, and the "
    "double legs are compared ROUNDED at 2dp, which absorbs the "
    "between-grain addition-order ulps while still catching any real "
    "cascade error.",
    oracle="""
WITH raw AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         datediff('day', DATE '2024-01-01', CAST(date_trunc('day', o_orderdate) AS DATE)) // 7 AS wk,
         o_totalprice
  FROM orders
),
direct AS (
  SELECT month, count(*) AS n, ROUND(SUM(o_totalprice), 2) AS rev FROM raw GROUP BY month
),
daily AS (
  SELECT month, day, count(*) AS n, SUM(o_totalprice) AS rev FROM raw GROUP BY month, day
),
from_daily AS (
  SELECT month, SUM(n) AS n, ROUND(SUM(rev), 2) AS rev FROM daily GROUP BY month
),
weekly AS (
  SELECT min(month) AS month, wk, count(*) AS n, SUM(o_totalprice) AS rev
  FROM raw GROUP BY wk
  HAVING count(DISTINCT month) = 1
),
from_weekly AS (
  SELECT month, SUM(n) AS n, ROUND(SUM(rev), 2) AS rev FROM weekly GROUP BY month
)
SELECT d.month,
       CAST(d.n AS BIGINT) AS n_orders,
       d.rev AS revenue,
       (d.n = fd.n AND d.rev = fd.rev) AS daily_cascade_exact,
       CAST(coalesce(fw.n, 0) AS BIGINT) AS n_in_whole_weeks
FROM direct d
JOIN from_daily fd ON fd.month = d.month
LEFT JOIN from_weekly fw ON fw.month = d.month
ORDER BY d.month
""",
)
def agg_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    raw = orders.select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
        F.expr(
            "datediff(CAST(date_trunc('day', o_orderdate) AS DATE), DATE '2024-01-01') div 7"
        ).alias("wk"),
        "o_totalprice",
    )
    direct = raw.groupBy("month").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    daily = raw.groupBy("month", "day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev")
    )
    from_daily = daily.groupBy(F.col("month").alias("m2")).agg(
        F.sum("n").alias("n2"), F.round(F.sum("rev"), 2).alias("rev2")
    )
    weekly = (
        raw.groupBy("wk")
        .agg(
            F.min("month").alias("month"),
            F.count_distinct("month").alias("nm"),
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("rev"),
        )
        .filter(F.col("nm") == 1)
    )
    from_weekly = weekly.groupBy(F.col("month").alias("m3")).agg(F.sum("n").alias("n3"))
    return (
        direct.join(from_daily, F.col("month") == F.col("m2"))
        .join(from_weekly, F.col("month") == F.col("m3"), "left")
        .select(
            "month",
            F.col("n").cast("long").alias("n_orders"),
            F.col("rev").alias("revenue"),
            ((F.col("n") == F.col("n2")) & (F.col("rev") == F.col("rev2"))).alias(
                "daily_cascade_exact"
            ),
            F.coalesce(F.col("n3"), F.lit(0)).cast("long").alias("n_in_whole_weeks"),
        )
        .orderBy("month")
    )


@register(
    "agg_to_date_totals",
    doc="MTD / QTD / YTD as-of the corpus max order date: one "
    "conditional-aggregation scan (no three passes), period starts via "
    "date_trunc month/quarter/year against a broadcast 1-row anchor. "
    "The BI to-date readout; anchor emitted as DATE (TZ-proof).",
    oracle="""
WITH a AS (SELECT max(o_orderdate) AS mx FROM orders)
SELECT CAST(date_trunc('day', a.mx) AS DATE) AS as_of,
       CAST(count(*) FILTER (WHERE o_orderdate >= date_trunc('month', a.mx)) AS BIGINT) AS mtd_orders,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderdate >= date_trunc('month', a.mx)), 0), 2) AS mtd_revenue,
       CAST(count(*) FILTER (WHERE o_orderdate >= date_trunc('quarter', a.mx)) AS BIGINT) AS qtd_orders,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderdate >= date_trunc('quarter', a.mx)), 0), 2) AS qtd_revenue,
       CAST(count(*) FILTER (WHERE o_orderdate >= date_trunc('year', a.mx)) AS BIGINT) AS ytd_orders,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderdate >= date_trunc('year', a.mx)), 0), 2) AS ytd_revenue
FROM orders CROSS JOIN a
GROUP BY a.mx
""",
)
def agg_to_date_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    a = orders.agg(F.max("o_orderdate").alias("mx"))
    j = orders.crossJoin(F.broadcast(a))

    def period(unit: str):
        return F.col("o_orderdate") >= F.date_trunc(unit, F.col("mx"))

    def cnt(unit: str):
        return F.sum(period(unit).cast("int")).cast("long")

    def rev(unit: str):
        return F.round(
            F.coalesce(F.sum(F.when(period(unit), F.col("o_totalprice"))), F.lit(0.0)), 2
        )

    return j.groupBy("mx").agg(
        cnt("month").alias("mtd_orders"),
        rev("month").alias("mtd_revenue"),
        cnt("quarter").alias("qtd_orders"),
        rev("quarter").alias("qtd_revenue"),
        cnt("year").alias("ytd_orders"),
        rev("year").alias("ytd_revenue"),
    ).select(
        F.date_trunc("day", "mx").cast("date").alias("as_of"),
        "mtd_orders",
        "mtd_revenue",
        "qtd_orders",
        "qtd_revenue",
        "ytd_orders",
        "ytd_revenue",
    )


@register(
    "agg_theil_index",
    doc="Theil inequality indexes of customer revenue per market "
    "segment: T = (1/n) sum (x/mu) ln(x/mu) (top-sensitive) and "
    "L = mean log deviation (1/n) sum ln(mu/x) (bottom-sensitive), "
    "x = per-customer revenue. The decomposable complement to the "
    "gini/HHI/ABC concentration family. Two-level rollup "
    "(customer, then segment) + a broadcast of the 5 segment means -- "
    "no sort, no window.",
    oracle="""
WITH cx AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
         SUM(o.o_totalprice) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY seg, cust
),
m AS (SELECT seg, COUNT(*)::DOUBLE AS n, AVG(x) AS mu FROM cx GROUP BY seg)
SELECT cx.seg AS segment,
       CAST(MAX(m.n) AS BIGINT) AS n_customers,
       ROUND(SUM((cx.x / m.mu) * ln(cx.x / m.mu)) / MAX(m.n), 4) AS theil_t,
       ROUND(SUM(ln(m.mu / cx.x)) / MAX(m.n), 4) AS theil_l
FROM cx JOIN m ON m.seg = cx.seg
GROUP BY cx.seg
ORDER BY segment
""",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    cx = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("cust"))
        .agg(F.sum("o_totalprice").alias("x"))
    )
    m = cx.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("x").alias("mu")
    )
    return (
        cx.join(F.broadcast(m), "seg")
        .groupBy(F.col("seg").alias("segment"))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.round(
                F.sum((F.col("x") / F.col("mu")) * F.log(F.col("x") / F.col("mu")))
                / F.max("n"),
                4,
            ).alias("theil_t"),
            F.round(F.sum(F.log(F.col("mu") / F.col("x"))) / F.max("n"), 4).alias(
                "theil_l"
            ),
        )
        .orderBy("segment")
    )


def _kmv_oracle(k: int = 16) -> str:
    from testlog_etl_spark import oracles as _o

    h = _o.xxh64_sql("text")
    return f"""
WITH u AS (
  SELECT DISTINCT source,
         ((({h}) % 4503599627370496 + 4503599627370496) % 4503599627370496)
           / 4503599627370496.0 AS u
  FROM documents
),
r AS (
  SELECT source, u,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS nd
  FROM u
),
per AS (
  SELECT source AS scope, MAX(nd)::BIGINT AS n_exact,
         MAX(CASE WHEN rn = {k} THEN u END) AS theta
  FROM r GROUP BY source
),
uu AS (SELECT DISTINCT u FROM u),
un AS (
  SELECT '__union__' AS scope, COUNT(*)::BIGINT AS n_exact,
         (SELECT MAX(u) FROM (SELECT u FROM uu ORDER BY u LIMIT {k})) AS theta
  FROM uu
),
allrows AS (SELECT * FROM per UNION ALL SELECT * FROM un)
SELECT scope, n_exact,
       ROUND(CASE WHEN theta IS NULL THEN n_exact
                  ELSE ({k} - 1) / theta END, 2) AS kmv_est,
       ROUND(abs(CASE WHEN theta IS NULL THEN n_exact
                      ELSE ({k} - 1) / theta END - n_exact)
             * 100.0 / n_exact, 2) AS err_pct
FROM allrows ORDER BY scope
"""


@register(
    "agg_kmv_distinct_sketch",
    doc="KMV / theta sketch distinct-count estimation per source plus "
    "the MERGED union sketch (k=16 minimum hash values of the "
    "xxh64-uniformized doc text; estimate (k-1)/theta_k, exact "
    "fallback when a scope holds < k distinct values). The mergeable "
    "sketch tier beside HLL (engine-opaque bytes) and bitmap (exact): "
    "KMV is EXACTLY replayable cross-engine -- the sketch IS k "
    "doubles, the union merge is k-smallest-of-union, and set "
    "arithmetic (intersections via inclusion-exclusion) stays exact "
    "on the same representation. Sketch build is one distinct rollup "
    "+ a partitioned k-rank; the union is a k-bounded TakeOrdered.",
    oracle=_kmv_oracle(),
)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = 16
    m52 = 4503599627370496
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    u = docs.select(
        "source",
        (F.pmod(F.xxhash64("text"), F.lit(m52)) / float(m52)).alias("u"),
    ).distinct()
    r = u.select(
        "source",
        "u",
        F.row_number().over(Window.partitionBy("source").orderBy("u")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("nd"),
    )
    per = r.groupBy(F.col("source").alias("scope")).agg(
        F.max("nd").cast("long").alias("n_exact"),
        F.max(F.when(F.col("rn") == k, F.col("u"))).alias("theta"),
    )
    uu = u.select("u").distinct()
    theta_u = uu.orderBy("u").limit(k).agg(F.max("u").alias("theta"))
    un = uu.agg(F.count(F.lit(1)).cast("long").alias("n_exact")).crossJoin(
        F.broadcast(theta_u)
    ).select(F.lit("__union__").alias("scope"), "n_exact", "theta")
    allrows = per.unionByName(un)
    est = F.when(F.col("theta").isNull(), F.col("n_exact").cast("double")).otherwise(
        (k - 1) / F.col("theta")
    )
    return allrows.select(
        "scope",
        "n_exact",
        F.round(est, 2).alias("kmv_est"),
        F.round(F.abs(est - F.col("n_exact")) * 100.0 / F.col("n_exact"), 2).alias(
            "err_pct"
        ),
    ).orderBy("scope")


@register(
    "orders_revenue_bridge",
    doc="two-period revenue bridge per market segment (the BI growth "
    "decomposition): delta = volume effect (order-count change at "
    "base-period avg ticket) + rate effect (avg-ticket change at "
    "current volume), 1995 -> 1996. The two effects sum EXACTLY to "
    "the revenue delta by construction -- the algebra is checked in "
    "the output. One joint rollup per (segment, year); everything "
    "else is arithmetic on 5 rows.",
    oracle="""
WITH y AS (
  SELECT c.c_mktsegment AS seg, EXTRACT(year FROM o.o_orderdate) AS yr,
         COUNT(*)::DOUBLE AS n, SUM(o.o_totalprice) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE EXTRACT(year FROM o.o_orderdate) IN (1995, 1996)
  GROUP BY seg, yr
)
SELECT a.seg AS segment,
       ROUND(a.rev, 2) AS rev_1995,
       ROUND(b.rev, 2) AS rev_1996,
       ROUND((b.n - a.n) * (a.rev / a.n), 2) AS volume_effect,
       ROUND(b.n * (b.rev / b.n - a.rev / a.n), 2) AS rate_effect,
       ROUND(b.rev - a.rev, 2) AS total_delta
FROM y a JOIN y b ON b.seg = a.seg AND a.yr = 1995 AND b.yr = 1996
ORDER BY segment
""",
)
def orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    y = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.year("o_orderdate").alias("yr")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"), F.sum("o_totalprice").alias("rev"))
    )
    a = y.filter(F.col("yr") == 1995).select(
        "seg", F.col("n").alias("na"), F.col("rev").alias("reva")
    )
    b = y.filter(F.col("yr") == 1996).select(
        F.col("seg").alias("segb"), F.col("n").alias("nb"), F.col("rev").alias("revb")
    )
    return (
        a.join(b, a.seg == b.segb)
        .select(
            F.col("seg").alias("segment"),
            F.round("reva", 2).alias("rev_1995"),
            F.round("revb", 2).alias("rev_1996"),
            F.round(
                (F.col("nb") - F.col("na")) * (F.col("reva") / F.col("na")), 2
            ).alias("volume_effect"),
            F.round(
                F.col("nb") * (F.col("revb") / F.col("nb") - F.col("reva") / F.col("na")),
                2,
            ).alias("rate_effect"),
            F.round(F.col("revb") - F.col("reva"), 2).alias("total_delta"),
        )
        .orderBy("segment")
    )


@register(
    "orders_littles_law_check",
    doc="Little's Law accounting over the order pipeline, per year: "
    "L = lambda x W checked on exact integral definitions -- "
    "open-order-DAYS (sum over orders of their open span clipped to "
    "the year, open = orderdate until max lineitem SHIPDATE clamped to >= the "
    "orderdate (the synthetic shipdates are uncorrelated with order "
    "dates, so ~20% would otherwise close before opening)) give "
    "both L (avg concurrent open orders = open-days / year-days) and "
    "W (avg residence = open-days / arrivals), so the identity closes "
    "EXACTLY when arrivals are attributed to the clipping year; the "
    "drift column vs the naive unclipped-W estimate is the readout "
    "(how much boundary effects distort the steady-state assumption). "
    "One lineitem rollup (max shipdate per order) + integer day "
    "arithmetic.",
    oracle="""
WITH span AS (
  SELECT o.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS od,
         GREATEST(MAX(CAST(l.l_shipdate AS DATE)), CAST(o.o_orderdate AS DATE)) AS cd
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, od
),
yr AS (
  SELECT EXTRACT(year FROM od)::INT AS y,
         COUNT(*)::DOUBLE AS arrivals,
         SUM(GREATEST(0,
             date_diff('day', GREATEST(od, (EXTRACT(year FROM od) || '-01-01')::DATE),
                       LEAST(cd, (EXTRACT(year FROM od) || '-12-31')::DATE) ) + 1))::DOUBLE AS open_days,
         SUM(date_diff('day', od, cd) + 1)::DOUBLE AS full_days
  FROM span GROUP BY y
)
SELECT y AS year,
       CAST(arrivals AS BIGINT) AS arrivals,
       ROUND(open_days / 365.0, 4) AS l_avg_open,
       ROUND(arrivals / 365.0, 4) AS lambda_per_day,
       ROUND(open_days / arrivals, 4) AS w_clipped_days,
       ROUND((arrivals / 365.0) * (open_days / arrivals) / (open_days / 365.0), 4) AS littles_ratio,
       ROUND(full_days / arrivals, 4) AS w_naive_days
FROM yr ORDER BY year
""",
)
def orders_littles_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    span = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("cd0"))
        .select(
            "o_orderkey", "od", F.greatest("cd0", "od").alias("cd")
        )
    )
    y = F.year("od")
    ystart = F.to_date(F.concat(y.cast("string"), F.lit("-01-01")))
    yend = F.to_date(F.concat(y.cast("string"), F.lit("-12-31")))
    yr = span.groupBy(y.cast("int").alias("y")).agg(
        F.count(F.lit(1)).cast("double").alias("arrivals"),
        F.sum(
            F.greatest(
                F.lit(0),
                F.datediff(F.least("cd", yend), F.greatest("od", ystart)) + 1,
            )
        )
        .cast("double")
        .alias("open_days"),
        F.sum(F.datediff("cd", "od") + 1).cast("double").alias("full_days"),
    )
    return yr.select(
        F.col("y").alias("year"),
        F.col("arrivals").cast("long").alias("arrivals"),
        F.round(F.col("open_days") / 365.0, 4).alias("l_avg_open"),
        F.round(F.col("arrivals") / 365.0, 4).alias("lambda_per_day"),
        F.round(F.col("open_days") / F.col("arrivals"), 4).alias("w_clipped_days"),
        F.round(
            (F.col("arrivals") / 365.0)
            * (F.col("open_days") / F.col("arrivals"))
            / (F.col("open_days") / 365.0),
            4,
        ).alias("littles_ratio"),
        F.round(F.col("full_days") / F.col("arrivals"), 4).alias("w_naive_days"),
    ).orderBy("year")


@register(
    "agg_lorenz_deciles",
    doc="Lorenz curve deciles of customer revenue (the gini query's "
    "presentable companion): global revenue rank via the in-plan "
    "bucketed scan (operators/scan.py::global_scan -- "
    "no single-partition window; deciles from integer rank "
    "arithmetic), then the decile rollup and a 10-row cumulative "
    "share. Bottom-decile share vs top-decile share is the "
    "concentration readout.",
    oracle="""
WITH cx AS (
  SELECT o_custkey AS cust, SUM(o_totalprice) AS x
  FROM orders GROUP BY cust
),
r AS (
  SELECT cust, x,
         ROW_NUMBER() OVER (ORDER BY x, cust) AS i,
         COUNT(*) OVER () AS n
  FROM cx
),
d AS (
  SELECT ((i - 1) * 10) // n AS decile,
         COUNT(*)::BIGINT AS n_customers,
         SUM(x) AS rev
  FROM r GROUP BY decile
),
t AS (SELECT SUM(rev) AS tot FROM d)
SELECT CAST(d.decile AS INT) AS decile, d.n_customers,
       ROUND(d.rev, 2) AS revenue,
       ROUND(d.rev / t.tot, 6) AS rev_share,
       ROUND(SUM(d.rev) OVER (ORDER BY d.decile ROWS UNBOUNDED PRECEDING) / t.tot, 6) AS cum_share
FROM d CROSS JOIN t
ORDER BY decile
""",
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    cx = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum("o_totalprice").alias("x")
    )
    r = global_scan(cx, [ScanSpec(("x", "cust"), rank="i", n="n")])
    d = r.groupBy(F.expr("((i - 1) * 10) div n").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("x").alias("rev")
    )
    t = d.agg(F.sum("rev").alias("tot"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_customers",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("tot"), 6).alias("rev_share"),
            F.round(F.sum("rev").over(wc) / F.col("tot"), 6).alias("cum_share"),
        )
        .orderBy("decile")
    )


@register(
    "agg_native_unpivot",
    doc="native UNPIVOT surface pin (DataFrame.unpivot / SQL UNPIVOT, "
    "the Spark-4 wide->long primitive): the per-priority "
    "count/revenue/avg metrics frame melts into (priority, metric, "
    "value) rows JVM-side -- no stack() string, no Python row work; "
    "the same melt the stack()-based queries hand-roll, pinned here "
    "as the first-class API so regressions in the native path "
    "surface. Oracle restates with UNION ALL.",
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS prio,
         COUNT(*)::DOUBLE AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS revenue,
         ROUND(AVG(o_totalprice), 4) AS avg_ticket
  FROM orders GROUP BY prio
)
SELECT prio, metric, val FROM (
  SELECT prio, 'n_orders' AS metric, n_orders AS val FROM m
  UNION ALL SELECT prio, 'revenue', revenue FROM m
  UNION ALL SELECT prio, 'avg_ticket', avg_ticket FROM m
)
ORDER BY prio, metric
""",
)
def agg_native_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    m = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_ticket"),
    )
    return m.unpivot(
        ["prio"], ["n_orders", "revenue", "avg_ticket"], "metric", "val"
    ).orderBy("prio", "metric")


@register(
    "agg_share_of_parent",
    doc="share-of-parent hierarchy readout: nation revenue as a share "
    "of its region, region revenue as a share of the total -- the "
    "drill-down percentage every BI tool computes per level. One "
    "joint (region, nation) rollup; parent totals are window sums "
    "over the 25-row rollup (fixed dimension domain).",
    oracle="""
WITH j AS (
  SELECT r.r_name AS region, n.n_name AS nation, SUM(o.o_totalprice) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY region, nation
)
SELECT region, nation,
       ROUND(rev, 2) AS revenue,
       ROUND(rev / SUM(rev) OVER (PARTITION BY region), 6) AS share_of_region,
       ROUND(SUM(rev) OVER (PARTITION BY region) / SUM(rev) OVER (), 6) AS region_share_of_total
FROM j ORDER BY region, nation
""",
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ("orders", "customer", "nation", "region"))
    j = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    # windows run over the 25-row (region, nation) rollup -- fixed domain
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return j.select(
        "region",
        "nation",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(wr), 6).alias("share_of_region"),
        F.round(F.sum("rev").over(wr) / F.sum("rev").over(wt), 6).alias(
            "region_share_of_total"
        ),
    ).orderBy("region", "nation")


@register(
    "orders_discount_elasticity",
    doc="discount semi-elasticity of demand per returnflag: OLS of "
    "ln(quantity) on discount over line items -- "
    "b = covar_pop/var_pop, so a 1-point discount increase moves "
    "quantity by ~b% (the pricing-analytics read; with synthetic "
    "uncorrelated data b ~ 0, which IS the readout). One single-scan "
    "moment rollup per flag; r^2 from the same moments.",
    oracle=f"""
WITH v AS (
  SELECT l_returnflag AS flag, l_discount AS x, ln(l_quantity) AS y
  FROM lineitem WHERE l_quantity > 0
)
SELECT flag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(covar_pop(x, y) / var_pop(x), 4) AS semi_elasticity,
       ROUND(AVG(y) - (covar_pop(x, y) / var_pop(x)) * AVG(x), 4) AS intercept,
       ROUND(pow(corr(x, y), 2), 6) AS r2
FROM v GROUP BY flag ORDER BY flag
""",
)
def orders_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    v = li.filter(F.col("l_quantity") > 0).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_discount").alias("x"),
        F.log("l_quantity").alias("y"),
    )
    b = F.covar_pop("x", "y") / F.var_pop("x")
    return (
        v.groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(b, 4).alias("semi_elasticity"),
            F.round(F.avg("y") - b * F.avg("x"), 4).alias("intercept"),
            F.round(F.pow(F.corr("x", "y"), 2), 6).alias("r2"),
        )
        .orderBy("flag")
    )


@register(
    "orders_abc_migration",
    doc="ABC class MIGRATION matrix 1995 -> 1996: customers classified "
    "per year by cumulative-revenue share (A to 80%, B to 95%, C "
    "tail; the abc_pareto integral-cents + hierarchical-scan "
    "construction per year, so no unpartitioned window over the "
    "scaling customer grain), full-outer joined on customer with 'N' "
    "for absent years -- who churned out of the head, who climbed in. "
    "The account-management readout on top of the static ABC cut.",
    oracle="""
WITH r95 AS (
  SELECT o_custkey AS cust, ROUND(SUM(o_totalprice) * 100, 0) AS rev_i
  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995 GROUP BY cust
),
c95 AS (
  SELECT cust,
         CASE WHEN SUM(rev_i) OVER (ORDER BY rev_i DESC, cust ROWS UNBOUNDED PRECEDING)
                   / SUM(rev_i) OVER () <= 0.80 THEN 'A'
              WHEN SUM(rev_i) OVER (ORDER BY rev_i DESC, cust ROWS UNBOUNDED PRECEDING)
                   / SUM(rev_i) OVER () <= 0.95 THEN 'B' ELSE 'C' END AS cls
  FROM r95
),
r96 AS (
  SELECT o_custkey AS cust, ROUND(SUM(o_totalprice) * 100, 0) AS rev_i
  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY cust
),
c96 AS (
  SELECT cust,
         CASE WHEN SUM(rev_i) OVER (ORDER BY rev_i DESC, cust ROWS UNBOUNDED PRECEDING)
                   / SUM(rev_i) OVER () <= 0.80 THEN 'A'
              WHEN SUM(rev_i) OVER (ORDER BY rev_i DESC, cust ROWS UNBOUNDED PRECEDING)
                   / SUM(rev_i) OVER () <= 0.95 THEN 'B' ELSE 'C' END AS cls
  FROM r96
)
SELECT COALESCE(a.cls, 'N') AS class_1995,
       COALESCE(b.cls, 'N') AS class_1996,
       CAST(count(*) AS BIGINT) AS n_customers
FROM c95 a FULL JOIN c96 b ON b.cust = a.cust
GROUP BY class_1995, class_1996
ORDER BY class_1995, class_1996
""",
)
def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]

    def classify(year: int, out: str) -> DataFrame:
        r = (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy(F.col("o_custkey").alias("cust"))
            .agg(F.round(F.sum("o_totalprice") * 100, 0).alias("rev_i"))
        )
        c = global_scan(
            r, [ScanSpec(("rev_i desc", "cust"), val="rev_i", cum="cum", total="tot")]
        )
        share = F.col("cum") / F.col("tot")
        return c.select(
            "cust",
            F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(out),
        )
    a = classify(1995, "ca")
    b = classify(1996, "cb")
    return (
        a.join(b, "cust", "full")
        .groupBy(
            F.coalesce("ca", F.lit("N")).alias("class_1995"),
            F.coalesce("cb", F.lit("N")).alias("class_1996"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("class_1995", "class_1996")
    )


@register(
    "agg_weighted_percentile",
    doc="quantity-weighted price percentiles per returnflag (p25/50/90 "
    "by the weighted-CDF lower-bound rule: smallest value whose "
    "cumulative weight share reaches p): per-VALUE weight rollup, "
    "cumulative weights over distinct prices partitioned by flag, "
    "min-satisfying value per p -- the weighted-median query's "
    "general-p sibling, exact integer weights end to end.",
    oracle="""
WITH pv AS (
  SELECT l_returnflag AS flag, l_extendedprice AS val,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY flag, val
),
c AS (
  SELECT flag, val,
         SUM(w) OVER (PARTITION BY flag ORDER BY val ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM pv
)
SELECT flag,
       MIN(CASE WHEN cw * 4 >= tw THEN val END) AS wp25,
       MIN(CASE WHEN cw * 2 >= tw THEN val END) AS wp50,
       MIN(CASE WHEN cw * 10 >= tw * 9 THEN val END) AS wp90
FROM c GROUP BY flag ORDER BY flag
""",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    pv = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("val")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("flag")
    c = pv.select(
        "flag",
        "val",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("tw"),
    )
    return (
        c.groupBy("flag")
        .agg(
            F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("val"))).alias("wp25"),
            F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("val"))).alias("wp50"),
            F.min(
                F.when(F.col("cw") * 10 >= F.col("tw") * 9, F.col("val"))
            ).alias("wp90"),
        )
        .orderBy("flag")
    )


@register(
    "events_mde_power",
    doc="experiment design readout per event_type: with the current "
    "per-arm unit counts and metric variance (per-user mean value), "
    "the minimum detectable effect at alpha = 0.05 / power = 0.80 -- "
    "MDE = (z_a + z_b) sqrt(var (1/n1 + 1/n0)) with the z constants "
    "pinned as literals (1.959964, 0.841621) -- in absolute units and "
    "as a share of the control mean. The how-long-must-this-run "
    "planning number beside the SRM/CUPED readouts.",
    oracle="""
WITH u AS (
  SELECT event_type, user_id, user_id % 2 AS arm, AVG("value") AS m
  FROM events GROUP BY event_type, user_id, arm
),
g AS (
  SELECT event_type,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0,
         var_samp(m) AS v,
         AVG(CASE WHEN arm = 0 THEN m END) AS mc
  FROM u GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_ctrl,
       ROUND((1.959964 + 0.841621) * sqrt(v * (1.0 / n1 + 1.0 / n0)), 4) AS mde_abs,
       ROUND((1.959964 + 0.841621) * sqrt(v * (1.0 / n1 + 1.0 / n0)) / mc, 6) AS mde_rel
FROM g ORDER BY event_type
""",
)
def events_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(F.avg("value").alias("m"))
    g = u.groupBy("event_type").agg(
        F.sum((F.col("arm") == 1).cast("int")).cast("double").alias("n1"),
        F.sum((F.col("arm") == 0).cast("int")).cast("double").alias("n0"),
        F.var_samp("m").alias("v"),
        F.avg(F.when(F.col("arm") == 0, F.col("m"))).alias("mc"),
    )
    z = 1.959964 + 0.841621
    mde = F.lit(z) * F.sqrt(F.col("v") * (1.0 / F.col("n1") + 1.0 / F.col("n0")))
    return g.select(
        "event_type",
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        F.round(mde, 4).alias("mde_abs"),
        F.round(mde / F.col("mc"), 6).alias("mde_rel"),
    ).orderBy("event_type")


def _median_polish_oracle(sweeps: int = 2) -> str:
    blocks = [
        """m0 AS (
  SELECT CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) AS INT) AS dow,
         CAST(date_trunc('week', ts) AS DATE) AS week,
         ROUND(SUM("value"), 6) AS v
  FROM events
  GROUP BY dow, week
),
re0 AS (SELECT dow, 0.0::DOUBLE AS e FROM (SELECT DISTINCT dow FROM m0)),
ce0 AS (SELECT week, 0.0::DOUBLE AS e FROM (SELECT DISTINCT week FROM m0))"""
    ]
    prev = "m0"
    for s in range(1, sweeps + 1):
        blocks.append(
            f"""rm{s} AS MATERIALIZED (SELECT dow, quantile_cont(v, 0.5) AS md FROM {prev} GROUP BY dow),
mr{s} AS MATERIALIZED (
  SELECT m.dow, m.week, m.v - rm{s}.md AS v
  FROM {prev} m JOIN rm{s} ON rm{s}.dow = m.dow
),
re{s} AS (SELECT re{s - 1}.dow, re{s - 1}.e + rm{s}.md AS e FROM re{s - 1} JOIN rm{s} ON rm{s}.dow = re{s - 1}.dow),
cm{s} AS MATERIALIZED (SELECT week, quantile_cont(v, 0.5) AS md FROM mr{s} GROUP BY week),
m{s} AS MATERIALIZED (
  SELECT m.dow, m.week, m.v - cm{s}.md AS v
  FROM mr{s} m JOIN cm{s} ON cm{s}.week = m.week
),
ce{s} AS (SELECT ce{s - 1}.week, ce{s - 1}.e + cm{s}.md AS e FROM ce{s - 1} JOIN cm{s} ON cm{s}.week = ce{s - 1}.week)"""
        )
        prev = f"m{s}"
    return f"""
WITH {','.join(blocks)}
SELECT component, key, effect FROM (
  SELECT 'dow' AS component, dow::VARCHAR AS key, ROUND(e, 4) AS effect FROM re{sweeps}
  UNION ALL
  SELECT 'week', week::VARCHAR, ROUND(e, 4) FROM ce{sweeps}
  UNION ALL
  SELECT 'residual_abs_sum', 'all', ROUND(SUM(abs(v)), 4) FROM m{sweeps}
) ORDER BY component, key
"""


@register(
    "agg_tukey_median_polish",
    oracle=_median_polish_oracle(),
    doc="Tukey median polish of the (dow x week) daily-value matrix: "
    "two row/column sweeps alternately subtracting row then column "
    "medians, accumulating dow and week effects -- the OUTLIER-PROOF "
    "two-way decomposition beside the mean-based STL (a single crazy "
    "day moves a mean effect but not a median one). Sequential sweeps "
    "chain as plan lineage (chained MATERIALIZED CTEs on the oracle "
    "side); medians are the certified percentile pairing; residual "
    "mass reported as the fit diagnostic.",
)
def agg_tukey_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = ev.groupBy(
        F.expr("extract(DAYOFWEEK_ISO FROM CAST(date_trunc('day', ts) AS DATE))")
        .cast("int")
        .alias("dow"),
        F.date_trunc("week", "ts").cast("date").alias("week"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    re = m.select("dow").distinct().select("dow", F.lit(0.0).alias("e"))
    ce = m.select("week").distinct().select("week", F.lit(0.0).alias("e"))
    for _ in range(2):
        rm = m.groupBy("dow").agg(F.expr("percentile(v, 0.5)").alias("md"))
        m = m.join(F.broadcast(rm), "dow").select(
            "dow", "week", (F.col("v") - F.col("md")).alias("v")
        )
        re = re.join(F.broadcast(rm), "dow").select(
            "dow", (F.col("e") + F.col("md")).alias("e")
        )
        cm = m.groupBy("week").agg(F.expr("percentile(v, 0.5)").alias("md"))
        m = m.join(F.broadcast(cm), "week").select(
            "dow", "week", (F.col("v") - F.col("md")).alias("v")
        )
        ce = ce.join(F.broadcast(cm), "week").select(
            "week", (F.col("e") + F.col("md")).alias("e")
        )
    rows = (
        re.select(
            F.lit("dow").alias("component"),
            F.col("dow").cast("string").alias("key"),
            F.round("e", 4).alias("effect"),
        )
        .unionByName(
            ce.select(
                F.lit("week").alias("component"),
                F.col("week").cast("string").alias("key"),
                F.round("e", 4).alias("effect"),
            )
        )
        .unionByName(
            m.agg(F.round(F.sum(F.abs("v")), 4).alias("effect")).select(
                F.lit("residual_abs_sum").alias("component"),
                F.lit("all").alias("key"),
                "effect",
            )
        )
    )
    return rows.orderBy("component", "key")


@register(
    "events_hazard_rate",
    doc="discrete-time hazard of churn: h(t) = share of users whose "
    "activity span ENDS at exactly t days among those surviving to "
    "t (the derivative view of agg_survival_curve, same integral "
    "span-day rollup): per-span-day histogram -> suffix survivors via "
    "a bounded 31-row cumulative -> hazard + cumulative-hazard "
    "(Nelson-Aalen sum). The when-do-they-leave readout.",
    oracle="""
WITH spans AS (
  SELECT user_id,
         CAST(floor(epoch(max(ts)) / 86400) - floor(epoch(min(ts)) / 86400) AS BIGINT) AS span_days
  FROM events GROUP BY user_id
),
h AS (
  SELECT span_days AS t, count(*)::DOUBLE AS ended
  FROM spans GROUP BY span_days
),
grid AS (SELECT unnest(range(0, 31)) AS t),
g AS (
  SELECT grid.t, COALESCE(h.ended, 0) AS ended
  FROM grid LEFT JOIN h ON h.t = grid.t
),
c AS (
  SELECT t, ended,
         SUM(ended) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS at_risk
  FROM g
)
SELECT CAST(t AS INT) AS t_days,
       CAST(ended AS BIGINT) AS n_ended,
       CAST(at_risk AS BIGINT) AS n_at_risk,
       ROUND(CASE WHEN at_risk > 0 THEN ended / at_risk ELSE 0 END, 6) AS hazard,
       ROUND(SUM(CASE WHEN at_risk > 0 THEN ended / at_risk ELSE 0 END)
             OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6) AS cum_hazard
FROM c ORDER BY t_days
""",
)
def events_hazard_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    spans = ev.groupBy("user_id").agg(
        (
            F.floor(F.unix_timestamp(F.max("ts")) / 86400)
            - F.floor(F.unix_timestamp(F.min("ts")) / 86400)
        )
        .cast("long")
        .alias("span_days")
    )
    h = spans.groupBy(F.col("span_days").alias("t")).agg(
        F.count(F.lit(1)).cast("double").alias("ended")
    )
    grid = spark.range(0, 31).select(F.col("id").alias("t"))
    g = grid.join(h, "t", "left").select(
        "t", F.coalesce("ended", F.lit(0.0)).alias("ended")
    )
    # 31-row fixed grid -- bounded frames (the survival_curve rationale)
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    c = g.withColumn("at_risk", F.sum("ended").over(wdesc))
    hz = F.when(F.col("at_risk") > 0, F.col("ended") / F.col("at_risk")).otherwise(0.0)
    return c.select(
        F.col("t").cast("int").alias("t_days"),
        F.col("ended").cast("long").alias("n_ended"),
        F.col("at_risk").cast("long").alias("n_at_risk"),
        F.round(hz, 6).alias("hazard"),
        F.round(F.sum(hz).over(wasc), 6).alias("cum_hazard"),
    ).orderBy("t_days")


@register(
    "orders_repeat_purchase",
    doc="repeat-purchase profile per market segment: share of "
    "customers with 2+ orders, mean orders per repeat customer, and "
    "the revenue share repeat customers carry -- the retention-"
    "economics one-liner (is the business repeat-driven?). One "
    "per-customer rollup + one segment rollup.",
    oracle="""
WITH cx AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey AS cust,
         count(*)::BIGINT AS n_orders, SUM(o.o_totalprice) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY seg, cust
)
SELECT seg AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
       ROUND(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS repeat_share,
       ROUND(SUM(CASE WHEN n_orders >= 2 THEN n_orders ELSE 0 END) * 1.0
             / NULLIF(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END), 0), 4) AS orders_per_repeat,
       ROUND(SUM(CASE WHEN n_orders >= 2 THEN rev ELSE 0 END) / SUM(rev), 4) AS repeat_revenue_share
FROM cx GROUP BY seg ORDER BY segment
""",
)
def orders_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    cx = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("cust"))
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("rev"))
    )
    rep = (F.col("n_orders") >= 2).cast("int")
    return (
        cx.groupBy(F.col("seg").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(rep).alias("n_repeat"),
            F.round(F.sum(rep) * 1.0 / F.count(F.lit(1)), 4).alias("repeat_share"),
            F.round(
                F.sum(F.when(F.col("n_orders") >= 2, F.col("n_orders")).otherwise(0))
                * 1.0
                / F.nullif(F.sum(rep), F.lit(0)),
                4,
            ).alias("orders_per_repeat"),
            F.round(
                F.sum(F.when(F.col("n_orders") >= 2, F.col("rev")).otherwise(0.0))
                / F.sum("rev"),
                4,
            ).alias("repeat_revenue_share"),
        )
        .orderBy("segment")
    )


@register(
    "agg_binned_quantile",
    doc="mergeable one-pass quantile sketch: a 256-bin equi-width "
    "histogram of l_extendedprice, then quantiles by cumulative "
    "interpolation inside the hit bin. The histogram is an ordinary "
    "groupBy count -- map-side combinable, merges across partitions/"
    "days by vector addition, and its error is bounded a priori by "
    "one bin width (range/256), unlike rank-based exact percentiles "
    "whose global sort shuffles the WHOLE column at 100 TB. Bounds "
    "ride a broadcast 1-row crossJoin (never a driver collect); the "
    "cumulative walk is a window over the 256-row bin frame, bounded "
    "by construction. Deterministic double math replayed identically "
    "by the oracle (no approx_percentile engine internals).",
    oracle="""
WITH b AS (
  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
         count(*) AS n
  FROM lineitem
),
h AS (
  SELECT LEAST(CAST(FLOOR((l_extendedprice - b.lo) / (b.hi - b.lo) * 256) AS BIGINT),
               255) AS bin,
         count(*) AS cnt
  FROM lineitem, b GROUP BY 1
),
c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
q AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q)
SELECT q.q, b.n AS n_rows, c.bin,
       ROUND(b.lo + (c.bin + (q.q * b.n - (c.cum - c.cnt)) / c.cnt)
                    * (b.hi - b.lo) / 256, 2) AS estimate,
       ROUND((b.hi - b.lo) / 256, 2) AS max_error
FROM q, b, c
WHERE c.cum - c.cnt < q.q * b.n AND q.q * b.n <= c.cum
ORDER BY q.q
""",
)
def agg_binned_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    x = F.col("l_extendedprice")
    bounds = li.agg(F.min(x).alias("lo"), F.max(x).alias("hi"), F.count(F.lit(1)).alias("n"))
    binned = (
        li.select(x.alias("v"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 256),
                F.lit(255),
            ).alias("bin")
        )
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    # 256-row frame: the unpartitioned window is bounded by the bin count,
    # never the data (window_lint whitelist class: static frame)
    cum = hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("bin")))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in (0.25, 0.5, 0.75, 0.9, 0.99)])).alias("q")
    )
    joined = (
        cum.crossJoin(F.broadcast(bounds))
        .join(
            F.broadcast(qs),
            (F.col("cum") - F.col("cnt") < F.col("q") * F.col("n"))
            & (F.col("q") * F.col("n") <= F.col("cum")),
        )
    )
    width = (F.col("hi") - F.col("lo")) / 256
    est = F.col("lo") + (
        F.col("bin") + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    ) * width
    return joined.select(
        "q",
        F.col("n").alias("n_rows"),
        "bin",
        F.round(est, 2).alias("estimate"),
        F.round(width, 2).alias("max_error"),
    ).orderBy("q")


@register(
    "orders_rfm_segments",
    bench=True,
    doc="RFM segmentation at the customer grain: recency (last order "
    "day), frequency (order count), monetary (revenue sum) are each "
    "quintile-scored 1..5 and customers grouped into (r,f,m) cells. "
    "The quintile needs a GLOBAL rank over a grain that scales with "
    "the data, so the three metrics ride ONE operators/scan.py::"
    "global_scan call (one bucket-keyed shuffle per metric; boundaries "
    "and offsets from two bounded scalar subqueries shared by all "
    "three, fully in-plan) -- never an "
    "unpartitioned ntile window over the customer grain (the "
    "window_lint rule). "
    "The score is computed EXPLICITLY from (rank, n) with integer "
    "division -- ((rank-1)*5) div n + 1 -- so both engines share the "
    "formula instead of trusting ntile remainder conventions to "
    "agree. Monetary is rounded before ranking (the suite's "
    "round-above-ulp rule) so partition-parallel float sums cannot "
    "reorder near-ties across engines; custkey breaks all ties.",
    oracle="""
WITH c AS (
  SELECT o_custkey AS cust,
         datediff('day', DATE '1970-01-01', max(o_orderdate)::DATE) AS rec,
         count(*) AS freq,
         ROUND(SUM(o_totalprice), 4) AS mon
  FROM orders GROUP BY o_custkey
),
n AS (SELECT count(*) AS n FROM c),
r AS (
  SELECT cust, mon,
         row_number() OVER (ORDER BY rec DESC, cust) AS rr,
         row_number() OVER (ORDER BY freq DESC, cust) AS rf,
         row_number() OVER (ORDER BY mon DESC, cust) AS rm
  FROM c
)
SELECT ((rr - 1) * 5) // n.n + 1 AS r_score,
       ((rf - 1) * 5) // n.n + 1 AS f_score,
       ((rm - 1) * 5) // n.n + 1 AS m_score,
       count(*) AS n_customers,
       ROUND(AVG(mon), 4) AS avg_monetary
FROM r, n
GROUP BY 1, 2, 3
ORDER BY r_score, f_score, m_score
""",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    c = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")), F.lit("1970-01-01").cast("date")
        ).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("o_totalprice"), 4).alias("mon"),
    )
    # note: the row order feeding the final AVG(mon) follows the last
    # rank window's bucket partitioning, and at sf0.01 two (r,f,m) cells
    # sit within half an ulp of a ROUND(..., 4) boundary -- the per-spec
    # windows' fold order is what the correctness history pins.
    ranked = global_scan(
        c,
        [
            ScanSpec(("rec desc", "cust"), rank="rr", n="n"),
            ScanSpec(("freq desc", "cust"), rank="rf"),
            ScanSpec(("mon desc", "cust"), rank="rm"),
        ],
    )
    scored = ranked.select(
        "mon",
        F.expr("((rr - 1) * 5) div n + 1").alias("r_score"),
        F.expr("((rf - 1) * 5) div n + 1").alias("f_score"),
        F.expr("((rm - 1) * 5) div n + 1").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("mon"), 4).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "agg_quantile_shift_function",
    doc="Doksum shift function between two periods: Q_1996(q) - "
    "Q_1995(q) at each decile of order value -- WHERE the "
    "distribution moved and by how much, the magnitude readout that "
    "PSI (one number) and KS (max gap) both flatten. Built on the "
    "agg_binned_quantile sketch GROUPED by year with SHARED global "
    "bounds so the two estimates are comparable bin-for-bin; the "
    "cumulative walk partitions BY YEAR (never an unpartitioned "
    "window), and every estimate carries the sketch's a-priori "
    "one-bin-width error bound.",
    oracle="""
WITH src AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr, o_totalprice AS v
  FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
),
b AS (SELECT min(v) AS lo, max(v) AS hi FROM src),
h AS (
  SELECT yr, LEAST(CAST(FLOOR((v - b.lo) / (b.hi - b.lo) * 256) AS BIGINT), 255) AS bin,
         count(*) AS cnt
  FROM src, b GROUP BY 1, 2
),
n AS (SELECT yr, SUM(cnt) AS n FROM h GROUP BY yr),
c AS (SELECT yr, bin, cnt, SUM(cnt) OVER (PARTITION BY yr ORDER BY bin) AS cum FROM h),
q AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS q),
est AS (
  SELECT q.q, c.yr,
         ROUND(b.lo + (c.bin + (q.q * n.n - (c.cum - c.cnt)) / c.cnt)
                      * (b.hi - b.lo) / 256, 2) AS est
  FROM q, b, c JOIN n ON n.yr = c.yr
  WHERE c.cum - c.cnt < q.q * n.n AND q.q * n.n <= c.cum
)
SELECT q,
       MAX(CASE WHEN yr = 1995 THEN est END) AS q_1995,
       MAX(CASE WHEN yr = 1996 THEN est END) AS q_1996,
       ROUND(MAX(CASE WHEN yr = 1996 THEN est END)
             - MAX(CASE WHEN yr = 1995 THEN est END), 2) AS shift
FROM est GROUP BY q ORDER BY q
""",
)
def agg_quantile_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    src = orders.filter(F.year("o_orderdate").isin(1995, 1996)).select(
        F.year("o_orderdate").alias("yr"), F.col("o_totalprice").alias("v")
    )
    b = src.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    h = (
        src.crossJoin(F.broadcast(b))
        .select(
            "yr",
            F.least(
                F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 256),
                F.lit(255),
            ).alias("bin"),
        )
        .groupBy("yr", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    n = h.groupBy("yr").agg(F.sum("cnt").alias("n"))
    c = h.withColumn("cum", F.sum("cnt").over(Window.partitionBy("yr").orderBy("bin")))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in (0.1, 0.25, 0.5, 0.75, 0.9)])).alias("q")
    )
    est = (
        c.join(n, "yr")
        .crossJoin(F.broadcast(b))
        .join(
            F.broadcast(qs),
            (F.col("cum") - F.col("cnt") < F.col("q") * F.col("n"))
            & (F.col("q") * F.col("n") <= F.col("cum")),
        )
        .select(
            "q",
            "yr",
            F.round(
                F.col("lo")
                + (
                    F.col("bin")
                    + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
                )
                * (F.col("hi") - F.col("lo"))
                / 256,
                2,
            ).alias("est"),
        )
    )
    return (
        est.groupBy("q")
        .agg(
            F.max(F.when(F.col("yr") == 1995, F.col("est"))).alias("q_1995"),
            F.max(F.when(F.col("yr") == 1996, F.col("est"))).alias("q_1996"),
            F.round(
                F.max(F.when(F.col("yr") == 1996, F.col("est")))
                - F.max(F.when(F.col("yr") == 1995, F.col("est"))),
                2,
            ).alias("shift"),
        )
        .orderBy("q")
    )


@register(
    "orders_price_index_fisher",
    doc="Laspeyres / Paasche / Fisher price indices between consecutive "
    "ship years: per (part, year) the unit price is "
    "SUM(l_extendedprice)/SUM(l_quantity) and the quantity weight is "
    "SUM(l_quantity); for each consecutive year pair over parts "
    "traded in BOTH years, L = SUM(p1 q0)/SUM(p0 q0), "
    "P = SUM(p1 q1)/SUM(p0 q1), Fisher = sqrt(L P). One "
    "(part, year) rollup shuffle, a self-join keyed by part with a "
    "year+1 band -- broadcastable at the year grain, partition-"
    "prunable on ship year at 100 TB.",
    oracle=f"""
WITH py AS (
  SELECT l_partkey AS part, EXTRACT(year FROM l_shipdate)::INT AS yr,
         SUM(l_extendedprice) / SUM(l_quantity) AS p,
         SUM(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
pair AS (
  SELECT b.yr AS year0, c.yr AS year1,
         b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
  FROM py b JOIN py c ON c.part = b.part AND c.yr = b.yr + 1
),
idx AS (
  SELECT year0, year1, count(*)::BIGINT AS n_parts,
         SUM(p1 * q0) / SUM(p0 * q0) AS laspeyres,
         SUM(p1 * q1) / SUM(p0 * q1) AS paasche
  FROM pair GROUP BY year0, year1
)
SELECT year0, year1, n_parts,
       ROUND(laspeyres, {R}) AS laspeyres,
       ROUND(paasche, {R}) AS paasche,
       ROUND(sqrt(laspeyres * paasche), {R}) AS fisher
FROM idx ORDER BY year0
""",
)
def orders_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    py = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").cast("int").alias("yr"),
    ).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    b = py.select("part", F.col("yr").alias("year0"), F.col("p").alias("p0"), F.col("q").alias("q0"))
    c = py.select("part", F.col("yr").alias("yr1"), F.col("p").alias("p1"), F.col("q").alias("q1"))
    pair = b.join(c, (c["part"] == b["part"]) & (c["yr1"] == b["year0"] + 1)).select(
        "year0", (F.col("yr1")).alias("year1"), "p0", "q0", "p1", "q1"
    )
    idx = pair.groupBy("year0", "year1").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))).alias("laspeyres"),
        (F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))).alias("paasche"),
    )
    return idx.select(
        "year0",
        "year1",
        "n_parts",
        F.round("laspeyres", R).alias("laspeyres"),
        F.round("paasche", R).alias("paasche"),
        F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")), R).alias("fisher"),
    ).orderBy("year0")


@register(
    "stats_capture_recapture",
    doc="Chapman capture-recapture estimate of the active customer "
    "population from two half-year observation windows (1995H1 / "
    "1995H2): n1, n2, overlap m, N_hat = (n1+1)(n2+1)/(m+1) - 1 and "
    "its standard error sqrt((n1+1)(n2+1)(n1-m)(n2-m) / "
    "((m+1)^2 (m+2))). Distinct-customer sets are exact hash "
    "aggregates; every output is derived from four integers with the "
    "same IEEE operation order on both engines, so the doubles are "
    "emitted bit-identical and UNROUNDED (terminating integer ratios "
    "+ ROUND would reintroduce the repr half-boundary hazard).",
    oracle="""
WITH c1 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
),
c2 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
),
s AS (
  SELECT (SELECT count(*) FROM c1)::BIGINT AS n1,
         (SELECT count(*) FROM c2)::BIGINT AS n2,
         (SELECT count(*) FROM c1 JOIN c2 USING (o_custkey))::BIGINT AS m
)
SELECT n1, n2, m,
       (n1 + 1) * (n2 + 1) * 1.0 / (m + 1) - 1.0 AS n_hat,
       sqrt((n1 + 1) * (n2 + 1) * 1.0 * (n1 - m) * (n2 - m)
            / ((m + 1) * 1.0 * (m + 1) * (m + 2))) AS se_hat
FROM s
""",
)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]

    def window(lo: str, hi: str):
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        ).select("o_custkey").distinct()

    c1 = window("1995-01-01 00:00:00", "1995-07-01 00:00:00")
    c2 = window("1995-07-01 00:00:00", "1996-01-01 00:00:00")
    s = (
        c1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(c2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(c1.join(c2, "o_custkey").agg(F.count(F.lit(1)).alias("m")))
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    return s.select(
        n1,
        n2,
        m,
        ((n1 + 1) * (n2 + 1) * 1.0 / (m + 1) - 1.0).alias("n_hat"),
        F.sqrt(
            (n1 + 1) * (n2 + 1) * 1.0 * (n1 - m) * (n2 - m)
            / ((m + 1) * 1.0 * (m + 1) * (m + 2))
        ).alias("se_hat"),
    )


@register(
    "orders_fill_rate_service_level",
    doc="service-level fill rate per order month: an order is 'filled "
    "on time' when its LAST line item ships within 30 days of the "
    "order date; reports per-month order counts, on-time counts, "
    "fill rate, and the mean days-to-complete. One per-order "
    "max(shipdate) rollup joined back to the header -- the classic "
    "header/detail SLA readout; at 100 TB both sides hash-partition "
    "on orderkey and the month rollup is tiny. Day arithmetic is "
    "integer; the two means are integer ratios emitted unrounded.",
    oracle="""
WITH fill AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS order_month,
         date_diff('day', CAST(o.o_orderdate AS DATE), f.last_ship) AS days_to_complete
  FROM orders o JOIN fill f ON f.l_orderkey = o.o_orderkey
)
SELECT order_month, count(*)::BIGINT AS n_orders,
       SUM(CASE WHEN days_to_complete <= 30 THEN 1 ELSE 0 END)::BIGINT AS on_time,
       SUM(CASE WHEN days_to_complete <= 30 THEN 1 ELSE 0 END) * 1.0 / count(*) AS fill_rate,
       SUM(days_to_complete) * 1.0 / count(*) AS avg_days_to_complete
FROM j GROUP BY order_month ORDER BY order_month
""",
)
def orders_fill_rate_service_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    fill = t["lineitem"].groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship")
    )
    j = t["orders"].join(fill, t["orders"]["o_orderkey"] == fill["l_orderkey"]).select(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("order_month"),
        F.datediff("last_ship", F.col("o_orderdate").cast("date")).alias("days_to_complete"),
    )
    on_time = F.sum(F.when(F.col("days_to_complete") <= 30, 1).otherwise(0))
    return (
        j.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            on_time.alias("on_time"),
            (on_time * 1.0 / F.count(F.lit(1))).alias("fill_rate"),
            (F.sum("days_to_complete") * 1.0 / F.count(F.lit(1))).alias("avg_days_to_complete"),
        )
        .orderBy("order_month")
    )


@register(
    "agg_magnitude_histogram",
    doc="HdrHistogram-flavor log-linear magnitude histogram of line "
    "revenue in integer cents: major bucket = decimal magnitude "
    "(digit count of the cent amount), minor bucket = leading digit "
    "-- both derived from the integer's STRING form, so bucketing is "
    "exact on both engines (floor(log10) on doubles can fall either "
    "side of a power boundary by one ulp; digit count cannot). "
    "Reports count, share, and min/max cents per (magnitude, lead) "
    "cell. The whole thing is one rollup over per-row integer "
    "arithmetic -- map-side combinable, the sketch shape that "
    "replaces a full sort at 100 TB.",
    oracle="""
WITH c AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents FROM lineitem
),
b AS (
  SELECT length(CAST(cents AS VARCHAR))::INT AS magnitude,
         CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS lead_digit,
         cents
  FROM c
),
tot AS (SELECT count(*)::BIGINT AS n FROM c)
SELECT magnitude, lead_digit, count(*)::BIGINT AS n_rows,
       count(*) * 1.0 / tot.n AS share,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents
FROM b, tot
GROUP BY magnitude, lead_digit, tot.n
ORDER BY magnitude, lead_digit
""",
)
def agg_magnitude_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    c = li.select(F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"))
    b = c.select(
        F.length(F.col("cents").cast("string")).cast("int").alias("magnitude"),
        F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("lead_digit"),
        "cents",
    )
    tot = c.agg(F.count(F.lit(1)).alias("n"))
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("magnitude", "lead_digit", "n")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .select(
            "magnitude",
            "lead_digit",
            "n_rows",
            (F.col("n_rows") * 1.0 / F.col("n")).alias("share"),
            "min_cents",
            "max_cents",
        )
        .orderBy("magnitude", "lead_digit")
    )


@register(
    "orders_lines_per_order_histogram",
    doc="basket-size distribution: histogram of line items per order "
    "(including the exact count of header-only orders via the left "
    "join), with the share column as an exact integer ratio. Two "
    "rollups: per-order line counts, then the count-of-counts -- the "
    "same frequency-of-frequencies shape as text_good_turing_mass on "
    "the transactional side; map-side combinable end to end.",
    oracle="""
WITH per AS (
  SELECT o.o_orderkey, COALESCE(l.cnt, 0) AS n_lines
  FROM orders o
  LEFT JOIN (SELECT l_orderkey, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1) l
    ON l.l_orderkey = o.o_orderkey
),
h AS (SELECT n_lines, count(*)::BIGINT AS n_orders FROM per GROUP BY n_lines),
tot AS (SELECT SUM(n_orders)::BIGINT AS n FROM h)
SELECT n_lines, n_orders, n_orders * 1.0 / tot.n AS share
FROM h, tot ORDER BY n_lines
""",
)
def orders_lines_per_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    cnt = t["lineitem"].groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    per = t["orders"].join(cnt, t["orders"]["o_orderkey"] == cnt["l_orderkey"], "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n_lines")
    )
    h = per.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = h.agg(F.sum("n_orders").alias("n"))
    return (
        h.crossJoin(F.broadcast(tot))
        .select("n_lines", "n_orders", (F.col("n_orders") * 1.0 / F.col("n")).alias("share"))
        .orderBy("n_lines")
    )


@register(
    "attribution_window_sweep",
    doc="conversion-window sensitivity for click -> purchase "
    "attribution: per purchase event, the gap to the SAME user's "
    "most recent prior click (forward-filled last-click timestamp "
    "over the user's event sequence); the sweep reports, for "
    "lookback windows of 1 / 3 / 7 / 30 days, how many purchases "
    "attribute -- the number the last-touch model (attribution_"
    "last_touch) silently conditions on. ONE user-keyed exchange "
    "shared by the ordered window; gaps are integer seconds so "
    "window membership is exact.",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_type, event_id,
         MAX(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
  FROM events
),
p AS (
  SELECT CAST(floor(epoch(ts)) - floor(epoch(last_click)) AS BIGINT) AS gap_s
  FROM seq WHERE event_type = 'purchase'
),
g AS (SELECT unnest([1, 3, 7, 30]) AS window_days)
SELECT g.window_days::INT AS window_days,
       (SELECT count(*) FROM p)::BIGINT AS n_purchases,
       SUM(CASE WHEN p.gap_s IS NOT NULL AND p.gap_s <= g.window_days * 86400
                THEN 1 ELSE 0 END)::BIGINT AS attributed,
       SUM(CASE WHEN p.gap_s IS NOT NULL AND p.gap_s <= g.window_days * 86400
                THEN 1 ELSE 0 END) * 1.0 / (SELECT count(*) FROM p) AS attribution_rate
FROM g LEFT JOIN p ON TRUE
GROUP BY g.window_days
ORDER BY window_days
""",
)
def attribution_window_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    seq = ev.select(
        "event_type",
        "ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w).alias("last_click"),
    )
    p = seq.filter(F.col("event_type") == "purchase").select(
        (
            F.floor(F.unix_timestamp("ts")) - F.floor(F.unix_timestamp("last_click"))
        ).cast("long").alias("gap_s")
    )
    grid = spark.createDataFrame([(1,), (3,), (7,), (30,)], "window_days int")
    tot = p.agg(F.count(F.lit(1)).alias("n_purchases"))
    return (
        F.broadcast(grid)
        .join(p, F.lit(True), "left")
        .groupBy("window_days")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_s").isNotNull()
                    & (F.col("gap_s") <= F.col("window_days").cast("long") * 86400),
                    1,
                ).otherwise(0)
            ).alias("attributed")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "window_days",
            F.col("n_purchases").cast("long").alias("n_purchases"),
            F.col("attributed").cast("long").alias("attributed"),
            (F.col("attributed") * 1.0 / F.col("n_purchases")).alias("attribution_rate"),
        )
        .orderBy("window_days")
    )
