"""Driver-facing profiling queries (operators/profile.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from testlog_etl_spark.operators.profile import profile
from testlog_etl_spark.suite import register
from testlog_etl_spark.tables import load_tables


def _col_sql(c: str, avg: str) -> str:
    return f"""
SELECT '{c}' AS "column",
       count(*) AS n_rows,
       count(*) - count({c}) AS n_null,
       round((count(*) - count({c})) / count(*), 4) AS null_frac,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value,
       {avg} AS avg_metric
FROM documents
"""


@register(
    "profile_documents",
    doc="single-scan data-profile of the documents table: per-column "
    "null/distinct/min/max/mean in ONE aggregate (partial+final, no row "
    "shuffle at any scale).",
    oracle=" UNION ALL ".join(
        _col_sql(c, avg)
        for c, avg in [
            ("doc_id", "round(avg(doc_id), 4)"),
            ("lang", "round(avg(length(lang)), 4)"),
            ("n_chars", "round(avg(n_chars), 4)"),
            ("source", "round(avg(length(source)), 4)"),
            ("text", "round(avg(length(text)), 4)"),
        ]
    )
    + ' ORDER BY "column"',
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return profile(docs, ["doc_id", "lang", "n_chars", "source", "text"])


@register(
    "dq_constraint_report",
    doc="data-quality constraint suite (dbt-test / expectation-style): "
    "uniqueness, referential integrity (left_anti probes), null rate, "
    "and accepted-range checks across the warehouse tables, one "
    "violation-count row per constraint. Scan-bound checks FUSE into one "
    "aggregate per table (a 100 TB fact is scanned once, not once per "
    "rule) unpivoted via stack(); FK probes are anti joins; the union of tiny 1-row "
    "results costs nothing. The report shape (constraint, violations, "
    "status) is what a pipeline gate consumes.",
    oracle="""
SELECT * FROM (
  SELECT 'customer.c_custkey unique' AS check_name,
         count(*) - count(DISTINCT c_custkey) AS n_violations FROM customer
  UNION ALL
  SELECT 'events.value non-null', count(*) FILTER (WHERE value IS NULL) FROM events
  UNION ALL
  SELECT 'lineitem.l_discount in [0,1]',
         count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_orderkey fk orders',
         (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem.l_quantity positive', count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
  UNION ALL
  SELECT 'orders.o_custkey fk customer',
         (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'orders.o_orderkey unique', count(*) - count(DISTINCT o_orderkey) FROM orders
  UNION ALL
  SELECT 'orders.o_totalprice positive', count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
)
ORDER BY check_name
""",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "events"))

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"), F.col("_v").alias("n_violations"))

    def unpivot(df: DataFrame, names: list[str]) -> DataFrame:
        pairs = ", ".join(f"'{n}', `{n}`" for n in names)
        return df.selectExpr(f"stack({len(names)}, {pairs}) AS (check_name, n_violations)")

    # scan-bound checks FUSE into one aggregate per table (one scan
    # computes every conditional count), then unpivot to report rows;
    # only the referential-integrity probes need their own anti joins
    lineitem_scan = unpivot(
        t["lineitem"].agg(
            F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)).alias(
                "lineitem.l_discount in [0,1]"
            ),
            F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("lineitem.l_quantity positive"),
        ),
        ["lineitem.l_discount in [0,1]", "lineitem.l_quantity positive"],
    )
    orders_scan = unpivot(
        t["orders"].agg(
            (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("orders.o_orderkey unique"),
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("orders.o_totalprice positive"),
        ),
        ["orders.o_orderkey unique", "orders.o_totalprice positive"],
    )
    checks = [
        one(
            "customer.c_custkey unique",
            t["customer"].agg((F.count(F.lit(1)) - F.count_distinct("c_custkey")).alias("_v")),
        ),
        one(
            "events.value non-null",
            t["events"].agg(F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("_v")),
        ),
        lineitem_scan,
        one(
            "lineitem.l_orderkey fk orders",
            t["lineitem"]
            .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
            .agg(F.count(F.lit(1)).alias("_v")),
        ),
        one(
            "orders.o_custkey fk customer",
            t["orders"]
            .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .agg(F.count(F.lit(1)).alias("_v")),
        ),
        orders_scan,
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


@register(
    "drift_psi_report",
    doc="population-stability-index drift monitor: order-value "
    "distribution 1995 vs 1996 over fixed 50k-wide buckets (top bucket "
    "open). Fixed edges keep counts integral and shares exact, so PSI "
    "is engine-deterministic up to ln() ulps -- the quantile-edged "
    "variant would inherit estimator internals "
    "(operators/profile.py::psi_report). One scan + one tiny bucket "
    "aggregate; the >0.1/>0.25 PSI action thresholds are the consumer's.",
    oracle="""
WITH c AS (
  SELECT LEAST(floor(o_totalprice / 50000), 9)::INT AS bucket,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995 THEN 1 ELSE 0 END) AS n_base,
         SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 1 ELSE 0 END) AS n_cmp
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
  GROUP BY bucket
),
t AS (SELECT SUM(n_base) AS tb, SUM(n_cmp) AS tc FROM c)
SELECT bucket, CAST(n_base AS BIGINT) AS n_base, CAST(n_cmp AS BIGINT) AS n_cmp,
       ROUND((n_base / t.tb + 0.0001 - (n_cmp / t.tc + 0.0001))
             * ln((n_base / t.tb + 0.0001) / (n_cmp / t.tc + 0.0001)), 6) AS psi_term
FROM c, t
ORDER BY bucket
""",
)
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.profile import psi_report

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    out = psi_report(
        orders,
        F.year("o_orderdate").cast("string"),
        F.col("o_totalprice"),
        bucket_width=50_000.0,
        n_buckets=10,
        base_label="1995",
        cmp_label="1996",
    )
    return out.orderBy("bucket")


@register(
    "dq_k_anonymity",
    doc="k-anonymity risk report (operators/profile.py::k_anonymity): "
    "equivalence classes over the quasi-identifiers (nation, market "
    "segment, account-balance band); any class smaller than k=5 is a "
    "re-identification risk. Per-segment rollup of class counts, risky "
    "classes, and the share of rows sitting in risky classes -- the "
    "privacy gate a dataset passes before release. One hash rollup to "
    "the QI grain + one rollup over the already-reduced class frame; "
    "no window, no self-join, nothing holistic.",
    oracle="""
WITH cls AS (
  SELECT c_mktsegment, c_nationkey, floor(c_acctbal / 1000) AS bal_band,
         count(*) AS class_size
  FROM customer GROUP BY c_mktsegment, c_nationkey, floor(c_acctbal / 1000)
)
SELECT c_mktsegment AS segment,
       count(*) AS n_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_classes,
       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS risky_rows,
       CAST(SUM(class_size) AS BIGINT) AS total_rows,
       ROUND(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::DOUBLE
             / SUM(class_size), 4) AS risky_row_share
FROM cls GROUP BY c_mktsegment ORDER BY segment
""",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.profile import k_anonymity

    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    cls = k_anonymity(
        cust,
        [F.col("c_mktsegment"), F.col("c_nationkey"), F.floor(F.col("c_acctbal") / 1000).alias("bal_band")],
        k=5,
    )
    risky_rows = F.sum(F.when(F.col("risky"), F.col("class_size")).otherwise(0))
    return (
        cls.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("risky"), 1).otherwise(0)).cast("long").alias("risky_classes"),
            risky_rows.cast("long").alias("risky_rows"),
            F.sum("class_size").cast("long").alias("total_rows"),
            F.round(risky_rows.cast("double") / F.sum("class_size"), 4).alias("risky_row_share"),
        )
        .orderBy("segment")
    )


@register(
    "join_size_estimate",
    doc="planner-statistics readout: per-key frequency histograms of "
    "both sides of orders><lineitem predict the join cardinality as "
    "sum(c_left * c_right) over shared keys BEFORE paying the join -- "
    "the estimate every cost-based optimizer builds from column stats, "
    "here exact because the histograms are exact. Output: per "
    "orderpriority stratum, the predicted pair count, the two sides' "
    "row/key counts, and the max single-key contribution (the skew "
    "signal AQE would split on). The stats join touches only "
    "(key, count) rows -- at 100 TB this is the cheap dry run that "
    "decides salting/broadcast before the real join.",
    oracle="""
WITH lo AS (
  SELECT o_orderkey, o_orderpriority, count(*) AS c_o
  FROM orders GROUP BY o_orderkey, o_orderpriority
),
ll AS (SELECT l_orderkey, count(*) AS c_l FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT lo.o_orderpriority AS priority, lo.c_o * ll.c_l AS pairs
  FROM lo JOIN ll ON lo.o_orderkey = ll.l_orderkey
)
SELECT priority,
       CAST(SUM(pairs) AS BIGINT) AS predicted_rows,
       count(*) AS n_shared_keys,
       CAST(MAX(pairs) AS BIGINT) AS max_key_pairs
FROM j GROUP BY priority ORDER BY priority
""",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    lo = t["orders"].groupBy("o_orderkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c_o")
    )
    ll = t["lineitem"].groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("c_l")
    )
    j = lo.join(ll, "o_orderkey").select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("c_o") * F.col("c_l")).alias("pairs"),
    )
    return (
        j.groupBy("priority")
        .agg(
            F.sum("pairs").alias("predicted_rows"),
            F.count(F.lit(1)).alias("n_shared_keys"),
            F.max("pairs").alias("max_key_pairs"),
        )
        .orderBy("priority")
    )


@register(
    "dq_benford_digits",
    doc="Benford first-digit conformance check on o_totalprice -- the "
    "classic fabricated-data / unit-drift screen for a DQ suite. The "
    "leading digit comes from INTEGER-STRING truncation "
    "(floor -> BIGINT -> first char), never floor(log10(x)) float "
    "arithmetic, so 10^k boundaries can't flip digits across engines. "
    "Per digit: observed count/share, the Benford expectation "
    "log10(1+1/d), and the chi-square contribution; one 9-cell rollup "
    "off a single scan.",
    oracle="""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
n AS (SELECT count(*)::DOUBLE AS n FROM v),
o AS (SELECT digit, count(*)::BIGINT AS observed FROM v GROUP BY digit)
SELECT o.digit,
       o.observed,
       ROUND(o.observed / n.n, 4) AS obs_share,
       ROUND(ln(1.0 + 1.0 / o.digit) / ln(10.0), 4) AS benford_share,
       ROUND(pow(o.observed - n.n * (ln(1.0 + 1.0 / o.digit) / ln(10.0)), 2)
             / (n.n * (ln(1.0 + 1.0 / o.digit) / ln(10.0))), 4) AS chi2_term
FROM o CROSS JOIN n
ORDER BY o.digit
""",
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    v = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    n = v.agg(F.count(F.lit(1)).cast("double").alias("n"))
    o = v.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    exp_share = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return (
        o.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "observed",
            F.round(F.col("observed") / F.col("n"), 4).alias("obs_share"),
            F.round(exp_share, 4).alias("benford_share"),
            F.round(
                F.pow(F.col("observed") - F.col("n") * exp_share, 2)
                / (F.col("n") * exp_share),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@register(
    "dq_outlier_iqr_fences",
    doc="Tukey-fence outlier screen per event_type: exact interpolated "
    "q1/q3 (the certified percentile<->quantile_cont pairing), 1.5*IQR "
    "fences, low/high outlier counts and share. One percentile rollup "
    "broadcast back over one counting pass -- the DQ sibling of "
    "stats_winsorized_mean.",
    oracle="""
WITH p AS (
  SELECT event_type,
         quantile_cont("value", 0.25) AS q1,
         quantile_cont("value", 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(p.q1, 4) AS q1,
       ROUND(p.q3, 4) AS q3,
       CAST(count(*) FILTER (WHERE e."value" < p.q1 - 1.5 * (p.q3 - p.q1)) AS BIGINT) AS n_low,
       CAST(count(*) FILTER (WHERE e."value" > p.q3 + 1.5 * (p.q3 - p.q1)) AS BIGINT) AS n_high,
       ROUND((count(*) FILTER (WHERE e."value" < p.q1 - 1.5 * (p.q3 - p.q1)
                                  OR e."value" > p.q3 + 1.5 * (p.q3 - p.q1)))::DOUBLE
             / count(*), 4) AS outlier_share
FROM events e JOIN p ON e.event_type = p.event_type
GROUP BY e.event_type, p.q1, p.q3
ORDER BY e.event_type
""",
)
def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # rank-selection quartiles, not the exact percentile() aggregate
    # (per-type value buffers would concentrate on one reducer per type
    # at scale -- operators/scan_quantile.py)
    p = group_quantiles_exact(
        ev.select(F.col("event_type").alias("_et"), "value"),
        "_et",
        "value",
        [0.25, 0.75],
        ["q1", "q3"],
    )
    j = ev.join(F.broadcast(p), ev["event_type"] == p["_et"])
    iqr = F.col("q3") - F.col("q1")
    low = F.col("value") < F.col("q1") - 1.5 * iqr
    high = F.col("value") > F.col("q3") + 1.5 * iqr
    return (
        j.groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(low.cast("long")).alias("n_low"),
            F.sum(high.cast("long")).alias("n_high"),
        )
        .select(
            "event_type",
            "n",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            "n_low",
            "n_high",
            F.round((F.col("n_low") + F.col("n_high")) / F.col("n"), 4).alias("outlier_share"),
        )
        .orderBy("event_type")
    )


def _block_checksum_oracle() -> str:
    from testlog_etl_spark.oracles import xxh64_sql

    fp = xxh64_sql("concat_ws('|', o_orderkey, o_orderstatus, cents)")
    blk = xxh64_sql("o_orderkey::VARCHAR")
    base = """
  SELECT o_orderkey, o_orderstatus,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         try_cast(('0x' || substr(md5(o_orderkey::VARCHAR || ':d'), 1, 15)) AS BIGINT) % 10 AS bkt
  FROM orders
"""
    return f"""
WITH v1 AS (SELECT o_orderkey, o_orderstatus,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders),
b AS ({base}),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN bkt = 1 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN bkt = 2 THEN cents + 100 ELSE cents END AS cents
  FROM b WHERE bkt <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, cents FROM b WHERE bkt = 3
),
h1 AS (
  SELECT (({blk}) % 64 + 64) % 64 AS block,
         count(*)::BIGINT AS n_v1, bit_xor({fp}) AS x1
  FROM v1 GROUP BY block
),
h2 AS (
  SELECT (({blk}) % 64 + 64) % 64 AS block,
         count(*)::BIGINT AS n_v2, bit_xor({fp}) AS x2
  FROM v2 GROUP BY block
)
SELECT COALESCE(h1.block, h2.block) AS block,
       COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2,
       (n_v1 IS NOT DISTINCT FROM n_v2 AND x1 IS NOT DISTINCT FROM x2) AS block_clean
FROM h1 FULL JOIN h2 ON h1.block = h2.block
ORDER BY block
"""


@register(
    "dq_block_checksum_diff",
    doc="anti-entropy / merkle-style table comparison: two table "
    "versions (v2 derived from orders by the snapshot_diff corruption "
    "model) are compared WITHOUT shipping rows -- each side rolls up "
    "to 64 blocks (xxhash64 of the key) carrying a row count and an "
    "order-independent bit_xor of per-row fingerprints (key|status|"
    "price-cents; cents, not a double rendering, so the fingerprint "
    "string is engine-stable). Unequal (count, xor) flags exactly the "
    "blocks that need row-level reconciliation: at 100 TB the exchange "
    "is 64 rows per side, and only flagged blocks re-scan -- the "
    "rsync argument, on DataFrames. bit_xor makes the checksum "
    "addition-order-free with no overflow, so engines can't disagree.",
    oracle=None,  # generated below: needs the xxh64 SQL twin
)
def dq_block_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import hash_bucket

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    v1 = orders.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    b = v1.withColumn("bkt", hash_bucket(F.col("o_orderkey"), 10, "d"))
    v2 = (
        b.filter(F.col("bkt") != 0)
        .select(
            "o_orderkey",
            F.when(F.col("bkt") == 1, F.lit("X")).otherwise(F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(F.col("bkt") == 2, F.col("cents") + 100).otherwise(F.col("cents")).alias(
                "cents"
            ),
        )
        .unionByName(
            b.filter(F.col("bkt") == 3).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderstatus",
                "cents",
            )
        )
    )

    def blocks(df: DataFrame, n_col: str, x_col: str) -> DataFrame:
        fp = F.xxhash64(
            F.concat_ws("|", F.col("o_orderkey"), F.col("o_orderstatus"), F.col("cents"))
        )
        blk = F.pmod(F.xxhash64(F.col("o_orderkey").cast("string")), F.lit(64))
        return (
            df.select(blk.alias("block"), fp.alias("_fp"))
            .groupBy("block")
            .agg(
                F.count(F.lit(1)).alias(n_col),
                F.expr("bit_xor(_fp)").alias(x_col),
            )
        )

    h1 = blocks(v1, "n_v1", "x1")
    h2 = blocks(v2, "n_v2", "x2").withColumnRenamed("block", "block2")
    j = h1.join(h2, F.col("block") == F.col("block2"), "full_outer")
    return j.select(
        F.coalesce("block", "block2").alias("block"),
        F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
        F.coalesce("n_v2", F.lit(0)).alias("n_v2"),
        (
            F.col("n_v1").eqNullSafe(F.col("n_v2"))
            & F.col("x1").eqNullSafe(F.col("x2"))
        ).alias("block_clean"),
    ).orderBy("block")


from testlog_etl_spark.suite import REGISTRY as _PROF_REG  # noqa: E402

_PROF_REG["dq_block_checksum_diff"].oracle = _block_checksum_oracle()


@register(
    "dq_null_matrix",
    doc="completeness matrix: null fraction of every documents column "
    "PER SOURCE -- the drill-down under profile_documents' global "
    "nulls, the first question when a feed degrades. ONE aggregate "
    "per source computes every column's null count (fuse-into-one-"
    "scan); unpivoted to (source, column, null_frac) report rows.",
    oracle="""
SELECT source, col AS "column",
       CAST(n AS BIGINT) AS n_rows,
       CAST(n_null AS BIGINT) AS n_null,
       ROUND(n_null / n::DOUBLE, 6) AS null_frac
FROM (
  SELECT source, count(*) AS n,
         count(*) - count(text) AS null_text,
         count(*) - count(lang) AS null_lang,
         count(*) - count(n_chars) AS null_n_chars
  FROM documents GROUP BY source
)
UNPIVOT (n_null FOR col IN (null_text AS 'text', null_lang AS 'lang', null_n_chars AS 'n_chars'))
ORDER BY source, "column"
""",
)
def dq_null_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("long")).alias("null_lang"),
        F.sum(F.col("n_chars").isNull().cast("long")).alias("null_n_chars"),
    )
    u = g.selectExpr(
        "source",
        "n",
        "stack(3, 'text', null_text, 'lang', null_lang, 'n_chars', null_n_chars) AS (column, n_null)",
    )
    return u.select(
        "source",
        "column",
        F.col("n").alias("n_rows"),
        "n_null",
        F.round(F.col("n_null") / F.col("n").cast("double"), 6).alias("null_frac"),
    ).orderBy("source", "column")


@register(
    "dq_l_diversity",
    doc="l-diversity, the gate AFTER dq_k_anonymity: a k-anonymous "
    "class is still unsafe if its SENSITIVE attribute (market segment "
    "here) is homogeneous -- l-diversity requires >= l distinct "
    "sensitive values per quasi-identifier class. Per-nation rollup of "
    "classes (nation x balance-band QI), their sensitive diversity, "
    "and the rows sitting in classes below l=2. Same two-rollup shape "
    "as k-anonymity: QI grain first, then the reduced class frame.",
    oracle="""
WITH cls AS (
  SELECT c_nationkey, floor(c_acctbal / 1000) AS bal_band,
         count(*) AS class_size,
         count(DISTINCT c_mktsegment) AS l_div
  FROM customer GROUP BY c_nationkey, floor(c_acctbal / 1000)
)
SELECT c_nationkey AS nation,
       count(*)::BIGINT AS n_classes,
       CAST(SUM(CASE WHEN l_div < 2 THEN 1 ELSE 0 END) AS BIGINT) AS homogeneous_classes,
       CAST(SUM(CASE WHEN l_div < 2 THEN class_size ELSE 0 END) AS BIGINT) AS exposed_rows,
       ROUND(SUM(CASE WHEN l_div < 2 THEN class_size ELSE 0 END)::DOUBLE
             / SUM(class_size), 4) AS exposed_row_share,
       ROUND(AVG(l_div), 4) AS avg_l
FROM cls GROUP BY c_nationkey ORDER BY nation
""",
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    cls = cust.groupBy(
        "c_nationkey", F.floor(F.col("c_acctbal") / 1000).alias("bal_band")
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.count_distinct("c_mktsegment").alias("l_div"),
    )
    homog = F.when(F.col("l_div") < 2, F.col("class_size")).otherwise(0)
    return (
        cls.groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("l_div") < 2, 1).otherwise(0)).cast("long").alias(
                "homogeneous_classes"
            ),
            F.sum(homog).cast("long").alias("exposed_rows"),
            F.round(F.sum(homog).cast("double") / F.sum("class_size"), 4).alias(
                "exposed_row_share"
            ),
            F.round(F.avg("l_div"), 4).alias("avg_l"),
        )
        .orderBy("nation")
    )


@register(
    "dq_scd2_integrity",
    doc="SCD2 validity-interval integrity check: the versioned "
    "dimension (join_scd2_dimension's derivation, deterministically "
    "CORRUPTED -- every 7th user's second version starts 2 days early "
    "= OVERLAP, every 7th+1 user's 3 days late = GAP) audited per "
    "business key with one lag() over the (key ORDER BY valid_from) "
    "exchange: overlaps (valid_from < previous valid_to), gaps "
    "(valid_from > previous valid_to), and clean keys. The contract "
    "check every temporal join in the suite silently assumes.",
    oracle="""
WITH users AS (SELECT DISTINCT user_id FROM events),
dim AS (
  SELECT user_id, 'bronze' AS tier,
         TIMESTAMP '2023-12-01 00:00:00' AS valid_from,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 1 DAY * (user_id % 20) AS valid_to
  FROM users
  UNION ALL
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 'gold' ELSE 'silver' END,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 1 DAY * (user_id % 20)
           + CASE WHEN user_id % 7 = 0 THEN -INTERVAL 2 DAY
                  WHEN user_id % 7 = 1 THEN INTERVAL 3 DAY
                  ELSE INTERVAL 0 DAY END,
         TIMESTAMP '2100-01-01 00:00:00'
  FROM users
),
lagged AS (
  SELECT user_id, valid_from,
         lag(valid_to) OVER (PARTITION BY user_id ORDER BY valid_from, valid_to) AS prev_to
  FROM dim
),
per_key AS (
  SELECT user_id,
         MAX(CASE WHEN prev_to IS NOT NULL AND valid_from < prev_to THEN 1 ELSE 0 END) AS has_overlap,
         MAX(CASE WHEN prev_to IS NOT NULL AND valid_from > prev_to THEN 1 ELSE 0 END) AS has_gap
  FROM lagged GROUP BY user_id
)
SELECT count(*)::BIGINT AS n_keys,
       CAST(SUM(has_overlap) AS BIGINT) AS overlap_keys,
       CAST(SUM(has_gap) AS BIGINT) AS gap_keys,
       CAST(SUM(CASE WHEN has_overlap = 0 AND has_gap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS clean_keys
FROM per_key
""",
)
def dq_scd2_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    users = ev.select("user_id").distinct()
    promo = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + (F.col("user_id") % 20) * F.expr(
        "INTERVAL 1 DAY"
    )
    skew = (
        F.when(F.col("user_id") % 7 == 0, F.expr("-INTERVAL 2 DAY"))
        .when(F.col("user_id") % 7 == 1, F.expr("INTERVAL 3 DAY"))
        .otherwise(F.expr("INTERVAL 0 DAY"))
    )
    v1 = users.select(
        "user_id",
        F.to_timestamp(F.lit("2023-12-01 00:00:00")).alias("valid_from"),
        promo.alias("valid_to"),
    )
    v2 = users.select(
        "user_id",
        (promo + skew).alias("valid_from"),
        F.to_timestamp(F.lit("2100-01-01 00:00:00")).alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    w = Window.partitionBy("user_id").orderBy("valid_from", "valid_to")
    lagged = dim.withColumn("prev_to", F.lag("valid_to").over(w))
    per_key = lagged.groupBy("user_id").agg(
        F.max(
            (F.col("prev_to").isNotNull() & (F.col("valid_from") < F.col("prev_to"))).cast("int")
        ).alias("has_overlap"),
        F.max(
            (F.col("prev_to").isNotNull() & (F.col("valid_from") > F.col("prev_to"))).cast("int")
        ).alias("has_gap"),
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("has_overlap").cast("long").alias("overlap_keys"),
        F.sum("has_gap").cast("long").alias("gap_keys"),
        F.sum(((F.col("has_overlap") == 0) & (F.col("has_gap") == 0)).cast("int"))
        .cast("long")
        .alias("clean_keys"),
    )


@register(
    "dq_p_chart",
    doc="statistical process control p-chart: daily error-event share "
    "against 3-sigma binomial limits around the center line (the "
    "overall error rate) -- ucl/lcl = p0 +- 3*sqrt(p0(1-p0)/n_day), "
    "out-of-control days flagged. The SPC screen an ops pipeline "
    "gates on, beside the error-budget view; one daily rollup + a "
    "broadcast 1-row center line.",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*)::DOUBLE AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE AS e
  FROM events GROUP BY day
),
p0 AS (SELECT SUM(e) / SUM(n) AS p FROM d)
SELECT d.day,
       CAST(d.n AS BIGINT) AS n_events,
       ROUND(d.e / d.n, 6) AS error_rate,
       ROUND(p0.p, 6) AS center_line,
       ROUND(p0.p + 3 * sqrt(p0.p * (1 - p0.p) / d.n), 6) AS ucl,
       ROUND(greatest(p0.p - 3 * sqrt(p0.p * (1 - p0.p) / d.n), 0), 6) AS lcl,
       (d.e / d.n > p0.p + 3 * sqrt(p0.p * (1 - p0.p) / d.n)
        OR d.e / d.n < greatest(p0.p - 3 * sqrt(p0.p * (1 - p0.p) / d.n), 0)) AS out_of_control
FROM d CROSS JOIN p0 ORDER BY d.day
""",
)
def dq_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int")).cast("double").alias("e"),
    )
    p0 = d.agg((F.sum("e") / F.sum("n")).alias("p"))
    j = d.crossJoin(F.broadcast(p0))
    sig = F.sqrt(F.col("p") * (1 - F.col("p")) / F.col("n"))
    ucl = F.col("p") + 3 * sig
    lcl = F.greatest(F.col("p") - 3 * sig, F.lit(0.0))
    rate = F.col("e") / F.col("n")
    return j.select(
        "day",
        F.col("n").cast("long").alias("n_events"),
        F.round(rate, 6).alias("error_rate"),
        F.round("p", 6).alias("center_line"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
    ).orderBy("day")


@register(
    "dq_sequence_gaps",
    doc="sequence-completeness audit WITHOUT a global window: events "
    "deterministically corrupted (md5 bucket 0 of event_id dropped) "
    "then audited for id gaps by pure anti-join algebra -- a gap "
    "STARTS at id+1 wherever id+1 is absent (and id < max), so gap "
    "count, missing total (span minus present), and max-id/min-id all "
    "come from set operations that shuffle only ids; no ordered scan "
    "of the sequence anywhere (the lead()-based formulation would put "
    "the whole sequence through one task).",
    oracle="""
WITH pres AS (
  SELECT event_id AS id FROM events
  WHERE try_cast(('0x' || substr(md5(event_id::VARCHAR || ':g'), 1, 15)) AS BIGINT) % 10 <> 0
),
b AS (SELECT min(id) AS lo, max(id) AS hi, count(*) AS n FROM pres),
gs AS (
  SELECT p.id + 1 AS gap_start
  FROM pres p CROSS JOIN b
  WHERE p.id < b.hi AND NOT EXISTS (SELECT 1 FROM pres q WHERE q.id = p.id + 1)
)
SELECT b.lo AS min_id, b.hi AS max_id,
       CAST(b.n AS BIGINT) AS n_present,
       CAST(b.hi - b.lo + 1 - b.n AS BIGINT) AS n_missing,
       (SELECT count(*) FROM gs)::BIGINT AS n_gaps
FROM b
""",
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import hash_bucket

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    pres = ev.filter(hash_bucket(F.col("event_id"), 10, "g") != 0).select(
        F.col("event_id").alias("id")
    )
    b = pres.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    nxt = pres.select((F.col("id") + 1).alias("id2"))
    gap_starts = (
        nxt.join(pres, F.col("id2") == F.col("id"), "left_anti")
        .crossJoin(F.broadcast(b))
        .filter(F.col("id2") <= F.col("hi"))
    )
    ng = gap_starts.agg(F.count(F.lit(1)).alias("n_gaps"))
    return (
        b.crossJoin(F.broadcast(ng))
        .select(
            "lo",
            "hi",
            F.col("n").cast("long").alias("n_present"),
            (F.col("hi") - F.col("lo") + 1 - F.col("n")).cast("long").alias("n_missing"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
        )
        .withColumnRenamed("lo", "min_id")
        .withColumnRenamed("hi", "max_id")
    )


def _dp_noise_oracle() -> str:
    from testlog_etl_spark.oracles import xxh64_sql

    h = xxh64_sql("event_type || ':dp'")
    return f"""
WITH c AS (
  SELECT event_type, count(*)::BIGINT AS n_true,
         ((({h}) % 1048576 + 1048576) % 1048576 + 0.5) / 1048576.0 AS u
  FROM events GROUP BY event_type
),
nz AS (
  SELECT event_type, n_true, u - 0.5 AS uc FROM c
)
SELECT event_type, n_true,
       ROUND(n_true + (-1.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc)), 4) AS n_noisy,
       ROUND(abs((-1.0) * sign(uc) * ln(1.0 - 2.0 * abs(uc))), 4) AS abs_noise,
       1.0::DOUBLE AS epsilon
FROM nz ORDER BY event_type
"""


@register(
    "dq_dp_noisy_counts",
    doc="differential-privacy release audit: per-event_type counts with "
    "deterministic Laplace(1/epsilon) noise drawn by inverse-CDF from "
    "a hash-uniform u in (0,1) (xxh64 of the group key -- replayable "
    "releases, the same-seed property a DP accountant needs to "
    "reconcile a published table against the warehouse). True count, "
    "noisy count, and realized |noise| side by side -- an AUDIT query "
    "(the publishable artifact would drop n_true). One count rollup; "
    "the noise is pure codegen on 5 rows.",
    oracle=_dp_noise_oracle(),
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    g = F.lit(float(1 << 20))
    u = (F.pmod(F.xxhash64(F.concat(F.col("event_type"), F.lit(":dp"))), F.lit(1 << 20)) + 0.5) / g
    uc = u - 0.5
    noise = F.lit(-1.0) * F.signum(uc) * F.log(F.lit(1.0) - 2.0 * F.abs(uc))
    return (
        c.select(
            "event_type",
            "n_true",
            F.round(F.col("n_true") + noise, 4).alias("n_noisy"),
            F.round(F.abs(noise), 4).alias("abs_noise"),
            F.lit(1.0).alias("epsilon"),
        )
        .orderBy("event_type")
    )


_MASK_COLS = (
    ("customer.c_name", "customer", "c_name"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("part.p_type", "part", "p_type"),
    ("events.props", "events", "props"),
)


def _mask_sql(col: str) -> str:
    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"{col}, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g')"
    )


@register(
    "dq_value_pattern_profile",
    doc="value-pattern profiling (the classic data-profiling 'pattern "
    "analysis'): every value masked to its character-class shape "
    "(uppercase->A, lowercase->a, digit->9, punctuation kept), top-3 "
    "masks per profiled column with counts and share -- how a "
    "profiler discovers mixed formats, stray whitespace, or rogue "
    "encodings in string columns before they break a parser. One "
    "rollup per column (unioned); masks are pure codegen regex.",
    oracle="SELECT col, mask, n, share FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{label}' AS col, mask, n, share, rn FROM (
  SELECT mask, CAST(count(*) AS BIGINT) AS n,
         ROUND(count(*) * 1.0 / SUM(count(*)) OVER (), 4) AS share,
         ROW_NUMBER() OVER (ORDER BY count(*) DESC, mask) AS rn
  FROM (SELECT {_mask_sql(col)} AS mask FROM {tbl})
  GROUP BY mask
)"""
        for label, tbl, col in _MASK_COLS
    )
    + "\n) WHERE rn <= 3 ORDER BY col, n DESC, mask",
)
def dq_value_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tables = load_tables(
        spark, sf_dir, tuple(sorted({t for _, t, _ in _MASK_COLS}))
    )
    outs = []
    for label, tbl, col in _MASK_COLS:
        mask = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(col), "[A-Z]", "A"), "[a-z]", "a"
            ),
            "[0-9]",
            "9",
        )
        g = tables[tbl].select(mask.alias("mask")).groupBy("mask").agg(
            F.count(F.lit(1)).alias("n")
        )
        wtot = Window.partitionBy()
        wrn = Window.orderBy(F.desc("n"), F.asc("mask"))
        outs.append(
            g.select(
                F.lit(label).alias("col"),
                "mask",
                "n",
                F.round(F.col("n") * 1.0 / F.sum("n").over(wtot), 4).alias("share"),
                F.row_number().over(wrn).alias("rn"),
            ).filter(F.col("rn") <= 3)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("col", "mask", "n", "share").orderBy(
        "col", F.desc("n"), "mask"
    )


@register(
    "dq_categorical_drift_new_values",
    doc="categorical-domain drift audit between month halves: per "
    "monitored column (event_type; props.k decile bucket), values "
    "present only in the second half (NEW -- schema-on-read landmines "
    "for downstream CASE logic), only in the first (DISAPPEARED), and "
    "stable, with row counts. Pure set algebra on per-half value "
    "rollups (full-outer join per column, unioned) -- the categorical "
    "complement to the numeric PSI/KS drift monitors.",
    oracle="""
WITH src AS (
  SELECT 'event_type' AS col, event_type AS val,
         CASE WHEN EXTRACT(day FROM ts) < 16 THEN 0 ELSE 1 END AS half
  FROM events
  UNION ALL
  SELECT 'props_k_decile',
         CAST(try_cast(json_extract_string(props, 'k') AS BIGINT) // 10 AS VARCHAR),
         CASE WHEN EXTRACT(day FROM ts) < 16 THEN 0 ELSE 1 END
  FROM events
),
g AS (
  SELECT col, val,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_first,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_second
  FROM src GROUP BY col, val
)
SELECT col, val,
       CASE WHEN n_first = 0 THEN 'new'
            WHEN n_second = 0 THEN 'disappeared'
            ELSE 'stable' END AS status,
       n_first, n_second
FROM g ORDER BY col, val
""",
)
def dq_categorical_drift_new_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    half = F.when(F.dayofmonth("ts") < 16, 0).otherwise(1).alias("half")
    a = ev.select(F.lit("event_type").alias("col"), F.col("event_type").alias("val"), half)
    b = ev.select(
        F.lit("props_k_decile").alias("col"),
        F.expr("CAST(CAST(get_json_object(props, '$.k') AS BIGINT) div 10 AS STRING)").alias("val"),
        half,
    )
    g = (
        a.unionByName(b)
        .groupBy("col", "val")
        .agg(
            F.sum((F.col("half") == 0).cast("int")).alias("n_first"),
            F.sum((F.col("half") == 1).cast("int")).alias("n_second"),
        )
    )
    return g.select(
        "col",
        "val",
        F.when(F.col("n_first") == 0, "new")
        .when(F.col("n_second") == 0, "disappeared")
        .otherwise("stable")
        .alias("status"),
        "n_first",
        "n_second",
    ).orderBy("col", "val")


@register(
    "dq_ingestion_order_audit",
    doc="ingestion-order audit: within each user's event stream "
    "(ordered by event_id, the ingestion sequence), how often does "
    "event time go BACKWARDS (adjacent inversion), and by how much "
    "(max regression seconds) -- the out-of-order-arrival rate that "
    "sizes streaming watermarks (stream_late_arrival_audit's batch "
    "ledger). One lag window per user, integer microsecond "
    "arithmetic.",
    oracle="""
WITH l AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS d_us
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_adjacent_pairs,
       CAST(SUM(CASE WHEN d_us < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
       ROUND(SUM(CASE WHEN d_us < 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS inversion_rate,
       ROUND(COALESCE(MAX(CASE WHEN d_us < 0 THEN -d_us END), 0) / 1000000.0, 3) AS max_regression_s
FROM l WHERE d_us IS NOT NULL
""",
)
def dq_ingestion_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("event_id")
    l = ev.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("d_us")
    ).filter(F.col("d_us").isNotNull())
    inv = (F.col("d_us") < 0).cast("int")
    return l.agg(
        F.count(F.lit(1)).alias("n_adjacent_pairs"),
        F.sum(inv).alias("n_inversions"),
        F.round(F.sum(inv) * 1.0 / F.count(F.lit(1)), 6).alias("inversion_rate"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("d_us") < 0, -F.col("d_us"))), F.lit(0)
            )
            / 1000000.0,
            3,
        ).alias("max_regression_s"),
    )


@register(
    "dq_functional_dependency",
    doc="functional-dependency audit: for candidate FDs A -> B, how many "
    "determinant groups carry MORE than one dependent value (the "
    "violation count a constraint miner or schema doc needs). "
    "c_custkey -> c_nationkey is the key-determined control (must "
    "HOLD); c_nationkey -> c_mktsegment and p_type -> p_size are "
    "expected violations -- one healthy and two broken FDs keep both "
    "report paths honest. Candidate pairs from each table stack into "
    "one frame per scan, then ONE two-level rollup serves every FD; "
    "at 100 TB each level is a map-side-combinable agg on the "
    "determinant key.",
    oracle="""
WITH fd AS (
  SELECT 'c_custkey->c_nationkey' AS fd, c_custkey::VARCHAR AS det, c_nationkey::VARCHAR AS dep FROM customer
  UNION ALL
  SELECT 'c_nationkey->c_mktsegment', c_nationkey::VARCHAR, c_mktsegment::VARCHAR FROM customer
  UNION ALL
  SELECT 'p_type->p_size', p_type::VARCHAR, p_size::VARCHAR FROM part
),
g AS (
  SELECT fd, det, count(DISTINCT dep) AS nd, count(*) AS n
  FROM fd GROUP BY fd, det
)
SELECT fd,
       count(*) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) AS violating_rows,
       CAST(MAX(nd) AS BIGINT) AS max_distinct_dep,
       (MAX(nd) = 1) AS holds
FROM g GROUP BY fd ORDER BY fd
""",
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer", "part"))

    def stacked_fds(df: DataFrame, fds: list[tuple[str, str, str]]) -> DataFrame:
        # stack each table's candidate (det, dep) pairs in ONE scan
        return df.selectExpr(
            f"stack({len(fds)}, "
            + ", ".join(
                f"'{label}', CAST({det} AS STRING), CAST({dep} AS STRING)"
                for label, det, dep in fds
            )
            + ") AS (fd, det, dep)"
        )

    stacked = stacked_fds(
        t["customer"],
        [
            ("c_custkey->c_nationkey", "c_custkey", "c_nationkey"),
            ("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"),
        ],
    ).unionByName(stacked_fds(t["part"], [("p_type->p_size", "p_type", "p_size")]))
    g = stacked.groupBy("fd", "det").agg(
        F.countDistinct("dep").alias("nd"), F.count(F.lit(1)).alias("n")
    )
    return (
        g.groupBy("fd")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("nd") > 1).cast("long")).alias("violating_groups"),
            F.sum(F.when(F.col("nd") > 1, F.col("n")).otherwise(0)).alias("violating_rows"),
            F.max("nd").alias("max_distinct_dep"),
            (F.max("nd") == 1).alias("holds"),
        )
        .orderBy("fd")
    )


@register(
    "dq_referential_orphans",
    doc="referential-integrity audit over the star's FK edges: per edge, "
    "child rows whose key has NO parent (orphans -- corruption) and "
    "parent keys no child references (childless -- expected business "
    "slack, e.g. customers who never ordered). Orphan counting rides a "
    "left join + null test so the child table is scanned once per "
    "edge; childless parents are a left_anti from the (distinct) "
    "parent key set. Both sides reduce BEFORE the single-row "
    "crossJoin stitch (broadcast-1-row by construction). In TPC-H "
    "every orphan count must be 0 while customer/part/supplier all "
    "carry childless rows -- asserting both directions keeps the "
    "audit falsifiable.",
    oracle="""
SELECT 'lineitem.l_partkey->part' AS edge,
       (SELECT count(*) FROM lineitem) AS child_rows,
       (SELECT count(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_partkey IS NULL) AS orphan_rows,
       (SELECT count(DISTINCT p_partkey) FROM part) AS parent_keys,
       (SELECT count(*) FROM part p WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS childless_parents
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_suppkey IS NULL),
       (SELECT count(DISTINCT s_suppkey) FROM supplier),
       (SELECT count(*) FROM supplier s WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL),
       (SELECT count(DISTINCT c_custkey) FROM customer),
       (SELECT count(*) FROM customer c WHERE NOT EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
ORDER BY edge
""",
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "part", "supplier"))

    def edge(label: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        c = child.select(F.col(ckey).alias("k"))
        p = parent.select(F.col(pkey).alias("k")).distinct()
        hit = c.join(p.withColumn("_hit", F.lit(1)), "k", "left").agg(
            F.count(F.lit(1)).alias("child_rows"),
            F.sum(F.col("_hit").isNull().cast("long")).alias("orphan_rows"),
        )
        childless = p.join(c.distinct(), "k", "left_anti").agg(
            F.count(F.lit(1)).alias("childless_parents")
        )
        parents = p.agg(F.count(F.lit(1)).alias("parent_keys"))
        return (
            hit.crossJoin(parents)
            .crossJoin(childless)
            .select(
                F.lit(label).alias("edge"),
                "child_rows",
                "orphan_rows",
                "parent_keys",
                "childless_parents",
            )
        )

    out = (
        edge("lineitem.l_partkey->part", t["lineitem"], "l_partkey", t["part"], "p_partkey")
        .unionByName(
            edge("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey")
        )
        .unionByName(
            edge("orders.o_custkey->customer", t["orders"], "o_custkey", t["customer"], "c_custkey")
        )
    )
    return out.orderBy("edge")


@register(
    "dq_primary_key_uniqueness",
    doc="primary-key uniqueness audit across the whole star: per table, "
    "row count vs distinct key count and the duplicate-row surplus -- "
    "the cheapest invariant every load job asserts before publishing. "
    "dq_constraint_report carries two of these as named expectations; "
    "this is the per-TABLE breakdown including the keys it omits, and "
    "lineitem's COMPOSITE (orderkey, linenumber) key -- which the "
    "synthetic generator genuinely VIOLATES (line numbers repeat "
    "within an order), so the broken path of the audit is exercised "
    "by real data, not an injected fixture. One count+"
    "count_distinct aggregate per table, map-side combinable; "
    "compound keys hash to one 8-byte column first so the distinct "
    "never shuffles two columns.",
    oracle="""
SELECT 'customer' AS table_name, count(*) AS n_rows,
       count(DISTINCT c_custkey) AS n_keys,
       count(*) - count(DISTINCT c_custkey) AS dup_rows FROM customer
UNION ALL
SELECT 'documents', count(*), count(DISTINCT doc_id),
       count(*) - count(DISTINCT doc_id) FROM documents
UNION ALL
SELECT 'events', count(*), count(DISTINCT event_id),
       count(*) - count(DISTINCT event_id) FROM events
UNION ALL
SELECT 'lineitem', count(*),
       count(DISTINCT hash(l_orderkey, '|', l_linenumber)),
       count(*) - count(DISTINCT hash(l_orderkey, '|', l_linenumber)) FROM lineitem
UNION ALL
SELECT 'orders', count(*), count(DISTINCT o_orderkey),
       count(*) - count(DISTINCT o_orderkey) FROM orders
ORDER BY table_name
""",
)
def dq_primary_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer", "documents", "events", "lineitem", "orders"))

    def audit(name: str, df: DataFrame, key) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"), F.count_distinct(key).alias("n_keys")
        ).select(
            F.lit(name).alias("table_name"),
            "n_rows",
            "n_keys",
            (F.col("n_rows") - F.col("n_keys")).alias("dup_rows"),
        )

    import functools

    outs = [
        audit("customer", t["customer"], F.col("c_custkey")),
        audit("documents", t["documents"], F.col("doc_id")),
        audit("events", t["events"], F.col("event_id")),
        # composite key -> ONE hashed column through the distinct
        audit("lineitem", t["lineitem"], F.xxhash64("l_orderkey", F.lit("|"), "l_linenumber")),
        audit("orders", t["orders"], F.col("o_orderkey")),
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), outs).orderBy("table_name")


@register(
    "dq_generalization_ladder",
    doc="k-anonymity generalization ladder, the DECISION op above "
    "dq_k_anonymity's report: sweep the balance-band generalization "
    "levels (width 100 -> 1000 -> 10000 -> segment-only), measure each "
    "level's smallest equivalence class and risky-row share at k=5, "
    "and flag the MINIMAL level that satisfies k -- the release "
    "pipeline publishes at that level (coarser destroys utility, "
    "finer leaks). All four levels ride ONE stacked rollup (the QI "
    "tuples for every level are emitted by one stack() over one "
    "customer scan) + one rollup of the reduced class frame -- never "
    "four scans. Monotonicity (coarser level => fewer risky rows) is "
    "property-tested.",
    oracle="""
WITH q AS (
  SELECT lvl, seg, band, count(*) AS class_size
  FROM (
    SELECT * FROM (
      SELECT 1 AS lvl, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 100) AS VARCHAR) AS band FROM customer
      UNION ALL
      SELECT 2, c_mktsegment, CAST(floor(c_acctbal / 1000) AS VARCHAR) FROM customer
      UNION ALL
      SELECT 3, c_mktsegment, CAST(floor(c_acctbal / 10000) AS VARCHAR) FROM customer
      UNION ALL
      SELECT 4, c_mktsegment, '*' FROM customer
    )
  ) GROUP BY lvl, seg, band
),
lv AS (
  SELECT lvl,
         count(*) AS n_classes,
         CAST(MIN(class_size) AS BIGINT) AS min_class,
         CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS risky_rows,
         ROUND(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::DOUBLE
               / SUM(class_size), 4) AS risky_share
  FROM q GROUP BY lvl
),
m AS (SELECT MIN(lvl) AS chosen FROM lv WHERE min_class >= 5)
SELECT lvl, n_classes, min_class, risky_rows, risky_share,
       (min_class >= 5) AS satisfies_k,
       (lvl = m.chosen) AS chosen_level
FROM lv, m ORDER BY lvl
""",
)
def dq_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    stacked = cust.selectExpr(
        "stack(4, "
        "1, c_mktsegment, CAST(floor(c_acctbal / 100) AS STRING), "
        "2, c_mktsegment, CAST(floor(c_acctbal / 1000) AS STRING), "
        "3, c_mktsegment, CAST(floor(c_acctbal / 10000) AS STRING), "
        "4, c_mktsegment, '*'"
        ") AS (lvl, seg, band)"
    )
    cls = stacked.groupBy("lvl", "seg", "band").agg(F.count(F.lit(1)).alias("class_size"))
    lv = cls.groupBy("lvl").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class"),
        F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)).alias(
            "risky_rows"
        ),
        F.round(
            F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)).cast(
                "double"
            )
            / F.sum("class_size"),
            4,
        ).alias("risky_share"),
    )
    chosen = lv.filter(F.col("min_class") >= 5).agg(F.min("lvl").alias("chosen"))
    return (
        lv.crossJoin(F.broadcast(chosen))
        .select(
            "lvl",
            "n_classes",
            "min_class",
            "risky_rows",
            "risky_share",
            (F.col("min_class") >= 5).alias("satisfies_k"),
            (F.col("lvl") == F.col("chosen")).alias("chosen_level"),
        )
        .orderBy("lvl")
    )


@register(
    "dq_inclusion_dependencies",
    doc="foreign-key DISCOVERY via inclusion coefficients (the Bellman "
    "profiling classic, completing the constraint-mining pair with "
    "dq_functional_dependency): for candidate (child.col -> "
    "parent.col) pairs, the fraction of distinct child values present "
    "in the parent -- 1.0 marks an FK candidate, near-zero a decoy. "
    "The panel mixes true FKs (orderkey, custkey, suppkey) with type-"
    "compatible decoys (o_custkey->s_suppkey, l_partkey->c_custkey) "
    "so both verdicts are exercised. Each pair is two DISTINCT "
    "rollups + one left-join null count over 8-byte keys; distincts "
    "shrink the frames BEFORE any join, so the cost is key-"
    "cardinality, not table size.",
    oracle="""
WITH pairs AS (
  SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS candidate,
         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_child,
         (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem) c
          WHERE EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.k)) AS n_hit
  UNION ALL
  SELECT 'orders.o_custkey -> customer.c_custkey',
         (SELECT count(DISTINCT o_custkey) FROM orders),
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders) c
          WHERE EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k))
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
         (SELECT count(DISTINCT l_suppkey) FROM lineitem),
         (SELECT count(*) FROM (SELECT DISTINCT l_suppkey AS k FROM lineitem) c
          WHERE EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.k))
  UNION ALL
  SELECT 'orders.o_custkey -> supplier.s_suppkey',
         (SELECT count(DISTINCT o_custkey) FROM orders),
         (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS k FROM orders) c
          WHERE EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.k))
  UNION ALL
  SELECT 'lineitem.l_partkey -> customer.c_custkey',
         (SELECT count(DISTINCT l_partkey) FROM lineitem),
         (SELECT count(*) FROM (SELECT DISTINCT l_partkey AS k FROM lineitem) c
          WHERE EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k))
)
SELECT candidate, CAST(n_child AS BIGINT) AS n_child_keys,
       CAST(n_hit AS BIGINT) AS n_contained,
       ROUND(n_hit * 1.0 / n_child, 4) AS inclusion,
       (n_hit = n_child) AS fk_candidate
FROM pairs ORDER BY candidate
""",
)
def dq_inclusion_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "supplier"))

    panel = [
        ("lineitem.l_orderkey -> orders.o_orderkey", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("orders.o_custkey -> customer.c_custkey", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("lineitem.l_suppkey -> supplier.s_suppkey", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        ("orders.o_custkey -> supplier.s_suppkey", t["orders"], "o_custkey", t["supplier"], "s_suppkey"),
        ("lineitem.l_partkey -> customer.c_custkey", t["lineitem"], "l_partkey", t["customer"], "c_custkey"),
    ]

    def one(label: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        c = child.select(F.col(ck).alias("k")).distinct()
        p = parent.select(F.col(pk).alias("k")).distinct()
        hit = c.join(p.withColumn("_h", F.lit(1)), "k", "left").agg(
            F.count(F.lit(1)).alias("n_child_keys"),
            F.sum(F.col("_h").isNotNull().cast("long")).alias("n_contained"),
        )
        return hit.select(
            F.lit(label).alias("candidate"),
            "n_child_keys",
            "n_contained",
            F.round(F.col("n_contained") * 1.0 / F.col("n_child_keys"), 4).alias("inclusion"),
            (F.col("n_contained") == F.col("n_child_keys")).alias("fk_candidate"),
        )

    import functools

    out = functools.reduce(
        lambda a, b: a.unionByName(b), (one(*args) for args in panel)
    )
    return out.orderBy("candidate")


@register(
    "dq_xmr_control_chart",
    doc="XmR (individuals / moving-range) control chart over the daily "
    "revenue series: v_t in integer kilodollars (the "
    "ts_bollinger_bands exactness discipline), MR_t = |v_t - v_t-1| "
    "(exact integers), center = mean(v), natural process limits "
    "center +/- 2.66 MRbar (the standard XmR constant d2=1.128 "
    "folded in), and per-day out-of-control flags. The only window "
    "is the one lag over the calendar-bounded per-day rollup. "
    "mean/MRbar are exact-integer ratios; the limits multiply by the "
    "2.66 literal identically on both engines, so everything is "
    "emitted unrounded.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
mr AS (
  SELECT day, v, ABS(v - LAG(v) OVER (ORDER BY day)) AS mr FROM d
),
c AS (
  SELECT AVG(v * 1.0) AS center, AVG(mr * 1.0) AS mrbar,
         count(*)::BIGINT AS n_days
  FROM mr
)
SELECT mr.day, mr.v, mr.mr,
       c.center, c.center + 2.66 * c.mrbar AS ucl, c.center - 2.66 * c.mrbar AS lcl,
       (mr.v > c.center + 2.66 * c.mrbar OR mr.v < c.center - 2.66 * c.mrbar) AS out_of_control
FROM mr, c
WHERE mr.v > c.center + 2.66 * c.mrbar OR mr.v < c.center - 2.66 * c.mrbar
   OR mr.mr > 3.267 * c.mrbar
ORDER BY mr.day
""",
)
def dq_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("v")
    )
    mr = d.select(
        "day", "v", F.abs(F.col("v") - F.lag("v").over(W.orderBy("day"))).alias("mr")
    )
    c = mr.agg(
        F.avg(F.col("v") * 1.0).alias("center"),
        F.avg(F.col("mr") * 1.0).alias("mrbar"),
        F.count(F.lit(1)).alias("n_days"),
    )
    j = mr.crossJoin(F.broadcast(c))
    ucl = F.col("center") + 2.66 * F.col("mrbar")
    lcl = F.col("center") - 2.66 * F.col("mrbar")
    return (
        j.filter((F.col("v") > ucl) | (F.col("v") < lcl) | (F.col("mr") > 3.267 * F.col("mrbar")))
        .select(
            "day",
            "v",
            "mr",
            F.col("center"),
            ucl.alias("ucl"),
            lcl.alias("lcl"),
            ((F.col("v") > ucl) | (F.col("v") < lcl)).alias("out_of_control"),
        )
        .orderBy("day")
    )


@register(
    "stats_poisson_dispersion",
    doc="Poisson overdispersion check per event type: daily event "
    "counts c_t, dispersion index D = s^2 / cbar (sample variance "
    "over mean -- 1 under Poisson), and the chi-square dispersion "
    "statistic (n-1) s^2 / cbar with dof n-1. Two-pass centered "
    "variance (broadcast per-type means over the per-day count "
    "rollup); counts are exact integers, the centered squares agree "
    "to reassociation ulps, rounded at 4.",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
m AS (SELECT event_type, AVG(c * 1.0) AS cbar, count(*) AS n FROM d GROUP BY 1),
v AS (
  SELECT d.event_type, MAX(m.cbar) AS cbar, MAX(m.n) AS n,
         SUM(POW(d.c - m.cbar, 2)) / (MAX(m.n) - 1) AS s2
  FROM d JOIN m USING (event_type) GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(cbar, 4) AS mean_daily,
       ROUND(s2, 4) AS var_daily,
       ROUND(s2 / cbar, 4) AS dispersion_index,
       ROUND((n - 1) * s2 / cbar, 4) AS chi2,
       CAST(n - 1 AS BIGINT) AS dof
FROM v ORDER BY event_type
""",
)
def stats_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    m = d.groupBy("event_type").agg(
        F.avg(F.col("c") * 1.0).alias("cbar"), F.count(F.lit(1)).alias("n")
    )
    v = (
        d.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("cbar").alias("cbar"),
            F.max("n").alias("n"),
            (F.sum((F.col("c") - F.col("cbar")) ** 2) / (F.max("n") - 1)).alias("s2"),
        )
    )
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round("cbar", 4).alias("mean_daily"),
        F.round("s2", 4).alias("var_daily"),
        F.round(F.col("s2") / F.col("cbar"), 4).alias("dispersion_index"),
        F.round((F.col("n") - 1) * F.col("s2") / F.col("cbar"), 4).alias("chi2"),
        (F.col("n") - 1).cast("long").alias("dof"),
    ).orderBy("event_type")


@register(
    "dq_order_detail_reconciliation",
    doc="header/detail reconciliation audit: per order, the header "
    "total o_totalprice vs the detail sum of l_extendedprice, "
    "binned by relative discrepancy magnitude (exact match at 1e-9, "
    "then decade buckets 0.1%/1%/10%/worse, plus headers with NO "
    "detail rows). The per-order detail sum is the one fact-table "
    "shuffle; the readout is a 6-row histogram with min/max/avg "
    "discrepancy per bucket. Bucket edges are coarse relative to "
    "double noise, so bucketing is stable cross-engine.",
    oracle="""
WITH det AS (
  SELECT l_orderkey, SUM(l_extendedprice) AS detail_total
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderkey, o.o_totalprice, det.detail_total,
         CASE WHEN det.detail_total IS NULL THEN NULL
              ELSE ABS(o.o_totalprice - det.detail_total) / o.o_totalprice END AS rel
  FROM orders o LEFT JOIN det ON det.l_orderkey = o.o_orderkey
),
b AS (
  SELECT CASE WHEN rel IS NULL THEN 'no_detail'
              WHEN rel <= 1e-9 THEN 'exact'
              WHEN rel <= 0.001 THEN 'within_0.1pct'
              WHEN rel <= 0.01 THEN 'within_1pct'
              WHEN rel <= 0.1 THEN 'within_10pct'
              ELSE 'worse' END AS bucket,
         rel
  FROM j
)
SELECT bucket, count(*)::BIGINT AS n_orders,
       ROUND(MIN(rel), 6) AS min_rel, ROUND(MAX(rel), 6) AS max_rel,
       ROUND(AVG(rel), 6) AS avg_rel
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def dq_order_detail_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    det = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum("l_extendedprice").alias("detail_total")
    )
    j = t["orders"].join(det, t["orders"]["o_orderkey"] == det["l_orderkey"], "left").select(
        "o_totalprice",
        F.when(
            F.col("detail_total").isNotNull(),
            F.abs(F.col("o_totalprice") - F.col("detail_total")) / F.col("o_totalprice"),
        ).alias("rel"),
    )
    bucket = (
        F.when(F.col("rel").isNull(), "no_detail")
        .when(F.col("rel") <= 1e-9, "exact")
        .when(F.col("rel") <= 0.001, "within_0.1pct")
        .when(F.col("rel") <= 0.01, "within_1pct")
        .when(F.col("rel") <= 0.1, "within_10pct")
        .otherwise("worse")
    )
    return (
        j.select(bucket.alias("bucket"), "rel")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("rel"), 6).alias("min_rel"),
            F.round(F.max("rel"), 6).alias("max_rel"),
            F.round(F.avg("rel"), 6).alias("avg_rel"),
        )
        .orderBy("bucket")
    )


@register(
    "dq_id_time_inversions",
    doc="monotonic-id audit: orders whose key order disagrees with "
    "their time order (an id-assignment pipeline invariant). Adjacent "
    "pairs in global o_orderkey order come from the hierarchical "
    "scan; an inversion is a pair whose o_orderdate strictly "
    "decreases. Reports total pairs, inversion count/rate, the worst "
    "backward jump in days, and the month with the most inversions. "
    "Pure integer/date arithmetic; the rate is an exact ratio.",
    oracle="""
WITH r AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS day,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS i
  FROM orders
),
adj AS (
  SELECT a.day AS d0, b.day AS d1,
         strftime(b.day, '%Y-%m') AS mon,
         date_diff('day', b.day, a.day) AS back_days
  FROM r a JOIN r b ON b.i = a.i + 1
),
inv AS (SELECT * FROM adj WHERE d1 < d0),
wm AS (
  SELECT mon FROM inv GROUP BY mon ORDER BY count(*) DESC, mon LIMIT 1
)
SELECT (SELECT count(*) FROM adj)::BIGINT AS n_pairs,
       (SELECT count(*) FROM inv)::BIGINT AS n_inversions,
       (SELECT count(*) FROM inv) * 1.0 / (SELECT count(*) FROM adj) AS inversion_rate,
       (SELECT MAX(back_days) FROM inv)::BIGINT AS worst_backward_days,
       (SELECT mon FROM wm) AS worst_month
""",
)
def dq_id_time_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select("o_orderkey", F.col("o_orderdate").cast("date").alias("day"))
    r = global_scan(base, [ScanSpec(("o_orderkey",), rank="i")])
    a = r.select(F.col("i").alias("ia"), F.col("day").alias("d0"))
    b = r.select(F.col("i").alias("ib"), F.col("day").alias("d1"))
    adj = a.join(b, F.col("ib") == F.col("ia") + 1).select(
        "d0",
        "d1",
        F.date_format("d1", "yyyy-MM").alias("mon"),
        F.datediff("d0", "d1").alias("back_days"),
    )
    inv = adj.filter(F.col("d1") < F.col("d0"))
    n_pairs = adj.agg(F.count(F.lit(1)).alias("n_pairs"))
    istats = inv.agg(
        F.count(F.lit(1)).alias("n_inversions"),
        F.max("back_days").alias("worst_backward_days"),
    )
    wm = (
        inv.groupBy("mon")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "mon")
        .limit(1)
        .select(F.col("mon").alias("worst_month"))
    )
    return (
        n_pairs.crossJoin(F.broadcast(istats))
        .crossJoin(F.broadcast(wm))
        .select(
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_inversions").cast("long").alias("n_inversions"),
            (F.col("n_inversions") * 1.0 / F.col("n_pairs")).alias("inversion_rate"),
            F.col("worst_backward_days").cast("long").alias("worst_backward_days"),
            "worst_month",
        )
    )


@register(
    "dq_ewma_control_chart",
    doc="EWMA control chart over the integer-kilodollar daily revenue "
    "series, lambda = 0.5 (dyadic): z_t = sum 2^-(t-i+1) v_i + "
    "2^-t v_0-seed -- spelled as the bounded 32-day weighted window "
    "(weights below 2^-32 are sub-ulp) so there is NO recursive "
    "state; limits center +/- 3 sigma sqrt(lambda/(2-lambda) "
    "(1 - (1-lambda)^(2t))) with the exact 0.25^t term. The "
    "kilodollar series and dyadic weights keep both weighted sums "
    "engine-exact; sigma's centered sum reassociates, so flagged "
    "rows round their limits at 4. Emits only flagged days plus a "
    "summary-friendly deterministic ORDER BY.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS v
  FROM orders GROUP BY 1
),
s AS (SELECT day, v, ROW_NUMBER() OVER (ORDER BY day) AS t FROM d),
m AS (SELECT AVG(v * 1.0) AS mu, count(*)::BIGINT AS n FROM d),
sig AS (SELECT sqrt(SUM((d.v - m.mu) * (d.v - m.mu)) / m.n) AS sigma FROM d, m GROUP BY m.n),
z AS (
  SELECT cur.day, cur.t, cur.v,
         SUM(pow(2.0, -(cur.t - prev.t + 1)) * prev.v) AS znum,
         SUM(pow(2.0, -(cur.t - prev.t + 1))) AS zden
  FROM s cur JOIN s prev ON prev.t BETWEEN cur.t - 31 AND cur.t
  GROUP BY cur.day, cur.t, cur.v
),
lim AS (
  SELECT z.day, z.v, z.znum / z.zden AS ewma,
         m.mu + 3 * sig.sigma * sqrt((0.5 / 1.5) * (1.0 - pow(0.25, z.t))) AS ucl,
         m.mu - 3 * sig.sigma * sqrt((0.5 / 1.5) * (1.0 - pow(0.25, z.t))) AS lcl
  FROM z, m, sig
)
SELECT day, v, ROUND(lim.ewma, 4) AS ewma, ROUND(lim.ucl, 4) AS ucl, ROUND(lim.lcl, 4) AS lcl
FROM lim
WHERE lim.ewma > lim.ucl OR lim.ewma < lim.lcl
ORDER BY day
""",
)
def dq_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    from pyspark.sql import Window as W

    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("v")
    )
    s = d.select("day", "v", F.row_number().over(W.orderBy("day")).alias("t"))
    m = d.agg(F.avg(F.col("v") * 1.0).alias("mu"), F.count(F.lit(1)).alias("n"))
    sig = (
        d.crossJoin(F.broadcast(m))
        .groupBy("n")
        .agg(
            F.sqrt(
                F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))) / F.col("n")
            ).alias("sigma")
        )
        .drop("n")
    )
    cur = s.select(F.col("day"), F.col("t").alias("ct"), F.col("v").alias("cv"))
    prev = s.select(F.col("t").alias("pt"), F.col("v").alias("pv"))
    w = F.pow(F.lit(2.0), -(F.col("ct") - F.col("pt") + 1))
    z = (
        cur.join(prev, F.col("pt").between(F.col("ct") - 31, F.col("ct")))
        .groupBy("day", "ct", "cv")
        .agg(F.sum(w * F.col("pv")).alias("znum"), F.sum(w).alias("zden"))
    )
    lim = z.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(sig)).select(
        "day",
        F.col("cv").alias("v"),
        (F.col("znum") / F.col("zden")).alias("ewma"),
        (
            F.col("mu")
            + 3 * F.col("sigma") * F.sqrt((0.5 / 1.5) * (1.0 - F.pow(F.lit(0.25), F.col("ct"))))
        ).alias("ucl"),
        (
            F.col("mu")
            - 3 * F.col("sigma") * F.sqrt((0.5 / 1.5) * (1.0 - F.pow(F.lit(0.25), F.col("ct"))))
        ).alias("lcl"),
    )
    return (
        lim.filter((F.col("ewma") > F.col("ucl")) | (F.col("ewma") < F.col("lcl")))
        .select("day", "v", F.round("ewma", 4).alias("ewma"), F.round("ucl", 4).alias("ucl"), F.round("lcl", 4).alias("lcl"))
        .orderBy("day")
    )


@register(
    "dq_volumetric_anomaly_wow",
    doc="week-over-week volume anomaly alerts per event type: weekly "
    "event counts (ISO-agnostic week key = days-since-epoch div 7, "
    "TZ-proof and identical on both engines), percentage change vs "
    "the prior week, alert when |change| > 40%. The per-(type, week) "
    "rollup is the only data-scale shuffle; the lag runs over the "
    "calendar-bounded week grid per type. Counts integral; pct "
    "change is an exact integer ratio emitted unrounded.",
    oracle="""
WITH w AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) // 7 AS wk,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, wk, n,
         LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n,
         LAG(wk) OVER (PARTITION BY event_type ORDER BY wk) AS prev_wk
  FROM w
)
SELECT event_type, wk AS week_index, n, prev_n,
       (n - prev_n) * 1.0 / prev_n AS pct_change
FROM l
WHERE prev_n IS NOT NULL AND prev_wk = wk - 1
  AND ABS((n - prev_n) * 1.0 / prev_n) > 0.4
ORDER BY event_type, week_index
""",
)
def dq_volumetric_anomaly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = ev.groupBy(
        "event_type",
        F.floor(F.floor(F.unix_timestamp("ts") / 86400) / 7).cast("long").alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    seq = W.partitionBy("event_type").orderBy("wk")
    l = w.select(
        "event_type",
        "wk",
        "n",
        F.lag("n").over(seq).alias("prev_n"),
        F.lag("wk").over(seq).alias("prev_wk"),
    )
    pct = (F.col("n") - F.col("prev_n")) * 1.0 / F.col("prev_n")
    return (
        l.filter(
            F.col("prev_n").isNotNull()
            & (F.col("prev_wk") == F.col("wk") - 1)
            & (F.abs(pct) > 0.4)
        )
        .select(
            "event_type",
            F.col("wk").alias("week_index"),
            "n",
            "prev_n",
            pct.alias("pct_change"),
        )
        .orderBy("event_type", "week_index")
    )


@register(
    "dq_timestamp_precision_profile",
    doc="timestamp-precision sniff over the event stream: how many ts "
    "values are exactly aligned to second / minute / hour / day "
    "boundaries (epoch-microsecond modular arithmetic -- TZ-free and "
    "exact). A spike at coarse alignments exposes upstream "
    "truncation or synthetic backfills; the boundary counts nest by "
    "construction (day-aligned implies hour-aligned implies ...). "
    "Integer counts and exact shares, one scan.",
    oracle="""
WITH u AS (SELECT epoch_us(ts) AS us FROM events),
f AS (
  SELECT count(*)::BIGINT AS n,
         SUM(CASE WHEN us % 1000000 = 0 THEN 1 ELSE 0 END)::BIGINT AS sec_aligned,
         SUM(CASE WHEN us % 60000000 = 0 THEN 1 ELSE 0 END)::BIGINT AS min_aligned,
         SUM(CASE WHEN us % 3600000000 = 0 THEN 1 ELSE 0 END)::BIGINT AS hour_aligned,
         SUM(CASE WHEN us % 86400000000 = 0 THEN 1 ELSE 0 END)::BIGINT AS day_aligned
  FROM u
)
SELECT n, sec_aligned, min_aligned, hour_aligned, day_aligned,
       sec_aligned * 1.0 / n AS sec_share,
       min_aligned * 1.0 / n AS min_share
FROM f
""",
)
def dq_timestamp_precision_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros("ts")
    f = ev.select(us.alias("us")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.pmod(F.col("us"), F.lit(1000000)) == 0, 1).otherwise(0)).alias("sec_aligned"),
        F.sum(F.when(F.pmod(F.col("us"), F.lit(60000000)) == 0, 1).otherwise(0)).alias("min_aligned"),
        F.sum(F.when(F.pmod(F.col("us"), F.lit(3600000000)) == 0, 1).otherwise(0)).alias("hour_aligned"),
        F.sum(F.when(F.pmod(F.col("us"), F.lit(86400000000)) == 0, 1).otherwise(0)).alias("day_aligned"),
    )
    return f.select(
        F.col("n").cast("long").alias("n"),
        F.col("sec_aligned").cast("long").alias("sec_aligned"),
        F.col("min_aligned").cast("long").alias("min_aligned"),
        F.col("hour_aligned").cast("long").alias("hour_aligned"),
        F.col("day_aligned").cast("long").alias("day_aligned"),
        (F.col("sec_aligned") * 1.0 / F.col("n")).alias("sec_share"),
        (F.col("min_aligned") * 1.0 / F.col("n")).alias("min_share"),
    )
