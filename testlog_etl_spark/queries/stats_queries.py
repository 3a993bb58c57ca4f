"""Statistical-testing queries: the experiment-analysis surface a data
platform grows next to its ETL (A/B readouts, drift tests, independence
checks). All three are compositions of exact aggregates -- no sampling,
no iteration -- so each has an exact DuckDB twin.

Determinism notes follow the suite conventions: integer counts
everywhere possible, doubles rounded at presentation, and the KS
statistic is computed over per-VALUE counts (group-by value first) so
window cumsums never order ties arbitrarily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from testlog_etl_spark.oracles import quality_z_sql
from testlog_etl_spark.suite import register
from testlog_etl_spark.tables import load_tables

R = 4


@register(
    "stats_chi_square",
    doc="chi-square independence test, lang x source on documents: "
    "observed cell counts vs independence expectation "
    "(row_tot x col_tot / n). One count rollup + two tiny broadcast "
    "margins; the statistic is a sum over |langs| x |sources| cells.",
    oracle=f"""
WITH o AS (SELECT lang, source, count(*)::DOUBLE AS obs FROM documents GROUP BY lang, source),
r AS (SELECT lang, SUM(obs) AS row_tot FROM o GROUP BY lang),
c AS (SELECT source, SUM(obs) AS col_tot FROM o GROUP BY source),
n AS (SELECT SUM(obs) AS n FROM o)
SELECT ROUND(SUM(pow(obs - row_tot * col_tot / n, 2) / (row_tot * col_tot / n)), {R}) AS chi2,
       CAST((SELECT count(*) FROM r) - 1 AS BIGINT) * CAST((SELECT count(*) FROM c) - 1 AS BIGINT) AS dof
FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
""",
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("double").alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    n_rows = r.agg(F.count(F.lit(1)).alias("nr"))
    n_cols = c.agg(F.count(F.lit(1)).alias("nc"))
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .agg(F.round(F.sum(F.pow(F.col("obs") - e, 2) / e), R).alias("chi2"))
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(n_cols))
        .select("chi2", ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"))
    )


@register(
    "stats_ks_by_day",
    doc="two-sample Kolmogorov-Smirnov statistic per day: sup |ECDF_view "
    "- ECDF_click| over the value distributions. Values are rolled up "
    "per (day, value) FIRST -- cumsums then run over distinct values, "
    "so tie order can never move the supremum -- and the window "
    "partitions by day (parallel across partitions; never a global "
    "single-partition sort).",
    oracle=f"""
WITH v AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "value" AS val,
         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
  FROM events WHERE event_type IN ('view', 'click')
),
pv AS (
  SELECT day, val, SUM(is_a)::BIGINT AS ca, SUM(1 - is_a)::BIGINT AS cb
  FROM v GROUP BY day, val
),
tot AS (SELECT day, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb FROM pv GROUP BY day),
cum AS (
  SELECT pv.day,
         SUM(ca) OVER (PARTITION BY pv.day ORDER BY val ROWS UNBOUNDED PRECEDING) / na AS fa,
         SUM(cb) OVER (PARTITION BY pv.day ORDER BY val ROWS UNBOUNDED PRECEDING) / nb AS fb
  FROM pv JOIN tot ON tot.day = pv.day
)
SELECT CAST(day AS DATE) AS day, ROUND(MAX(abs(fa - fb)), {R}) AS ks
FROM cum GROUP BY day ORDER BY day
""",
)
def stats_ks_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.date_trunc("day", "ts").alias("day"),
        F.col("value").alias("val"),
        (F.col("event_type") == "view").cast("int").alias("is_a"),
    )
    pv = v.groupBy("day", "val").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    tot = pv.groupBy("day").agg(
        F.sum("ca").cast("double").alias("na"), F.sum("cb").cast("double").alias("nb")
    )
    w = Window.partitionBy("day").orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        pv.join(F.broadcast(tot), "day")
        .withColumn("fa", F.sum("ca").over(w) / F.col("na"))
        .withColumn("fb", F.sum("cb").over(w) / F.col("nb"))
    )
    # day as DATE -- TZ-proof output (r06 TZ sweep)
    return (
        cum.groupBy("day")
        .agg(F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), R).alias("ks"))
        .withColumn("day", F.col("day").cast("date"))
        .orderBy("day")
    )


@register(
    "stats_welch_ttest",
    doc="A/B readout: users split into deterministic md5-hash variants, "
    "Welch's t on event value per event_type (means/variances from one "
    "co-grouped rollup -- no second scan; sample variance via the "
    "n/(n-1) correction over population moments so both engines "
    "compute the same closed form).",
    oracle=f"""
WITH t AS (
  SELECT event_type,
         try_cast(('0x' || substr(md5(user_id::VARCHAR || ':ab'), 1, 15)) AS BIGINT) % 2 AS variant,
         "value" AS val
  FROM events
),
s AS (
  SELECT event_type, variant, count(*)::DOUBLE AS n, AVG(val) AS mean,
         (SUM(val * val) / count(*) - AVG(val) * AVG(val)) * count(*) / (count(*) - 1) AS var
  FROM t GROUP BY event_type, variant
)
SELECT a.event_type,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       ROUND(a.mean - b.mean, {R}) AS mean_diff,
       ROUND((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), {R}) AS t_stat
FROM (SELECT * FROM s WHERE variant = 0) a
JOIN (SELECT * FROM s WHERE variant = 1) b USING (event_type)
ORDER BY a.event_type
""",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.sampling import hash_bucket

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    t = ev.select(
        "event_type",
        hash_bucket(F.col("user_id"), 2, seed="ab").alias("variant"),
        F.col("value").alias("val"),
    )
    s = t.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("val").alias("mean"),
        (
            (F.sum(F.col("val") * F.col("val")) / F.count(F.lit(1))
             - F.avg("val") * F.avg("val"))
            * F.count(F.lit(1))
            / (F.count(F.lit(1)) - 1)
        ).alias("var"),
    )
    a = s.filter(F.col("variant") == 0).select(
        "event_type", F.col("n").alias("na"), F.col("mean").alias("ma"), F.col("var").alias("va")
    )
    b = s.filter(F.col("variant") == 1).select(
        "event_type", F.col("n").alias("nb"), F.col("mean").alias("mb"), F.col("var").alias("vb")
    )
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.round(F.col("ma") - F.col("mb"), R).alias("mean_diff"),
            F.round(
                (F.col("ma") - F.col("mb"))
                / F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb")),
                R,
            ).alias("t_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_correlation",
    doc="Pearson correlation panel per event type: corr(value, "
    "hour-of-day) and corr(value, day-of-month) from ONE co-grouped "
    "rollup of the five sufficient sums -- the closed form both "
    "engines compute identically (built-in corr() differs in "
    "streaming-update order; the sufficient-statistics form is "
    "addition-order-free up to the final rounded division).",
    oracle=f"""
WITH t AS (
  SELECT event_type, "value" AS v,
         CAST(hour(ts) AS DOUBLE) AS h,
         CAST(day(ts) AS DOUBLE) AS d
  FROM events
),
s AS (
  SELECT event_type, count(*)::DOUBLE AS n,
         SUM(v) AS sv, SUM(h) AS sh, SUM(d) AS sd,
         SUM(v * v) AS svv, SUM(h * h) AS shh, SUM(d * d) AS sdd,
         SUM(v * h) AS svh, SUM(v * d) AS svd
  FROM t GROUP BY event_type
)
SELECT event_type,
       ROUND((n * svh - sv * sh) / sqrt((n * svv - sv * sv) * (n * shh - sh * sh)), {R}) AS corr_value_hour,
       ROUND((n * svd - sv * sd) / sqrt((n * svv - sv * sv) * (n * sdd - sd * sd)), {R}) AS corr_value_day
FROM s ORDER BY event_type
""",
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    t = ev.select(
        "event_type",
        F.col("value").alias("v"),
        F.hour("ts").cast("double").alias("h"),
        F.dayofmonth("ts").cast("double").alias("d"),
    )
    s = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("v").alias("sv"),
        F.sum("h").alias("sh"),
        F.sum("d").alias("sd"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("v") * F.col("h")).alias("svh"),
        F.sum(F.col("v") * F.col("d")).alias("svd"),
    )
    def corr(sxy, sx, sy, sxx, syy):
        return F.round(
            (F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy))
            / F.sqrt(
                (F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx))
                * (F.col("n") * F.col(syy) - F.col(sy) * F.col(sy))
            ),
            R,
        )
    return s.select(
        "event_type",
        corr("svh", "sv", "sh", "svv", "shh").alias("corr_value_hour"),
        corr("svd", "sv", "sd", "svv", "sdd").alias("corr_value_day"),
    ).orderBy("event_type")


@register(
    "stats_quantile_normalize",
    doc="cross-source score comparability: each doc's quality score "
    "mapped to its WITHIN-SOURCE percentile (percent_rank over the "
    "(source) window with a doc_id tie-break), then per-source "
    "deciles of the normalized value -- the quantile-normalization "
    "step that makes scores from differently-calibrated sources "
    "rankable against each other. Scores ride the 2^-20 snap so the "
    "rank order is engine-identical.",
    oracle="""
WITH sc AS (
  SELECT doc_id, source,
         floor((1.0 / (1.0 + exp(-({z})))) * 1048576 + 0.5) / 1048576 AS s
  FROM documents
),
p AS (
  SELECT source,
         PERCENT_RANK() OVER (PARTITION BY source ORDER BY s, doc_id) AS pr
  FROM sc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(median(pr), 4) AS median_pr,
       ROUND(quantile_cont(pr, 0.9), 4) AS p90_pr
FROM p GROUP BY source ORDER BY source
""".format(z=quality_z_sql()),
)
def stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import filtering

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    g = F.lit(float(1 << 20))
    snapped = F.floor(filtering.linear_quality_score(F.col("text")) * g + F.lit(0.5)) / g
    sc = docs.select("doc_id", "source", snapped.alias("s"))
    # percent_rank over Window.partitionBy(source) concentrates each
    # source (a scaling grain: |source| is bounded but every source's
    # docs grow with the corpus) on one task, and median()/percentile()
    # over pr buffer every doc's rank per source on one reducer. Both
    # replaced: the rank comes from ONE bucketed global scan
    # (per-source rank = global rank - source offset; the order
    # has a doc_id tie-break so RANK == ROW_NUMBER and percent_rank =
    # (rank-1)/(n-1) exactly), the quantiles from rank selection
    # (operators/scan_quantile.py).
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    # The scan compares the string key in-engine (sampled struct
    # boundaries); nothing is persisted and building runs no job.
    ranked = global_scan(sc, [ScanSpec(("source", "s", "doc_id"), rank="_gr")])
    # per-source rank offsets: a source's rows are contiguous in the
    # scan order, so its offset is its smallest global rank - 1 (the
    # distributed form of the r09 driver walk; Spark's own ordering, so
    # no collect and no Python-vs-UTF8 sort divergence)
    offs = ranked.groupBy("source").agg(
        (F.min("_gr") - 1).alias("_off"), F.count(F.lit(1)).alias("_n")
    )
    p = ranked.join(offs, "source").select(
        "source",
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise(
            (F.col("_gr") - F.col("_off") - 1).cast("double")
            / (F.col("_n") - 1).cast("double")
        )
        .alias("pr"),
    )
    qs = group_quantiles_exact(p, "source", "pr", [0.5, 0.9], ["_med", "_p90"])
    counts = p.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.join(qs, "source")
        .select(
            "source",
            "n_docs",
            F.round(F.col("_med"), 4).alias("median_pr"),
            F.round(F.col("_p90"), 4).alias("p90_pr"),
        )
        .orderBy("source")
    )


@register(
    "stats_jackknife_ci",
    doc="delete-one-bucket jackknife CI for the mean extended price: "
    "32 deterministic hash buckets (xxhash64 of the line key) each "
    "contribute (sum, count); the 32 leave-one-out means and their "
    "jackknife variance are computed over the REDUCED 32-row frame -- "
    "the distributed-uncertainty pattern when a closed-form SE is "
    "unavailable (ratio metrics, post-stratified means): one rollup "
    "shuffle of 32 cells, resampling without re-scanning. Sums snap "
    "to cents so the fold order can't move the last ulp cross-engine.",
    oracle=None,  # filled below: shares the generated xxh64 SQL
)
def stats_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    buckets = li.select(
        F.pmod(F.xxhash64(key), F.lit(32)).alias("b"), cents.alias("v")
    ).groupBy("b").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    # the jackknife arithmetic runs on the 32-row reduced frame; the
    # 1-row totals broadcast back (bounded by construction)
    # distinct names: Spark resolves case-insensitively, so `S` vs the
    # bucket column `s` would be AMBIGUOUS_REFERENCE
    tot = buckets.agg(F.sum("s").alias("tS"), F.sum("c").alias("tC"))
    # theta_i come out IDENTICAL on both engines (pure functions of the
    # exact integer S/C/s/c); the variance uses the raw-moment closed
    # form (same convention as stats_welch_ttest) so both engines run
    # the same arithmetic rather than their own var() algorithms
    theta = buckets.crossJoin(F.broadcast(tot)).select(
        ((F.col("tS") - F.col("s")) / (F.col("tC") - F.col("c")) / 100).alias("th"),
        "tS",
        "tC",
    )
    agg = theta.groupBy("tS", "tC").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.avg("th").alias("m1"),
        F.avg(F.col("th") * F.col("th")).alias("m2"),
    )
    jk = F.sqrt((F.col("m2") - F.col("m1") * F.col("m1")) * (F.col("n_buckets") - 1))
    mean = F.col("tS") / F.col("tC") / 100
    return agg.select(
        F.round(mean, 4).alias("mean_price"),
        F.round(jk, 4).alias("jk_se"),
        F.round(mean - 1.96 * jk, 4).alias("ci_lo"),
        F.round(mean + 1.96 * jk, 4).alias("ci_hi"),
        "n_buckets",
    )


def _jackknife_oracle() -> str:
    from testlog_etl_spark.oracles import xxh64_sql

    h = xxh64_sql("l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR")
    return f"""
WITH b AS (
  SELECT (({h}) % 32 + 32) % 32 AS b,
         CAST(SUM(round(l_extendedprice * 100, 0)) AS BIGINT) AS s,
         count(*) AS c
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS S, CAST(SUM(c) AS BIGINT) AS C FROM b),
theta AS (
  SELECT (tot.S - b.s) * 1.0 / (tot.C - b.c) / 100 AS th, tot.S AS S, tot.C AS C
  FROM b, tot
)
SELECT ROUND(S * 1.0 / C / 100, 4) AS mean_price,
       ROUND(sqrt((AVG(th * th) - AVG(th) * AVG(th)) * (count(*) - 1)), 4) AS jk_se,
       ROUND(S * 1.0 / C / 100
             - 1.96 * sqrt((AVG(th * th) - AVG(th) * AVG(th)) * (count(*) - 1)), 4) AS ci_lo,
       ROUND(S * 1.0 / C / 100
             + 1.96 * sqrt((AVG(th * th) - AVG(th) * AVG(th)) * (count(*) - 1)), 4) AS ci_hi,
       count(*) AS n_buckets
FROM theta GROUP BY S, C
"""


from testlog_etl_spark.suite import REGISTRY as _REG4  # noqa: E402

_REG4["stats_jackknife_ci"].oracle = _jackknife_oracle()


@register(
    "stats_ols_trend",
    doc="per-group simple linear regression, closed form: per "
    "event_type, value regressed on the integer day index "
    "(days since 2024-01-01). slope = covar_pop/var_pop, intercept "
    "from the means, fit quality as corr^2 -- the SAME moment "
    "formulas DuckDB's regr_* family computes, written out so both "
    "engines run identical arithmetic (one rollup, no second pass; "
    "Spark's covar_pop/corr are single-scan Welford-style "
    "aggregates). Rounded at presentation like stats_correlation.",
    oracle=f"""
WITH d AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))::DOUBLE AS x,
         "value" AS y
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(covar_pop(y, x) / var_pop(x), {R}) AS slope,
       ROUND(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), {R}) AS intercept,
       ROUND(corr(y, x) * corr(y, x), {R}) AS r2
FROM d GROUP BY event_type ORDER BY event_type
""",
)
def stats_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.select(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("double")
        .alias("x"),
        F.col("value").alias("y"),
    )
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop("y", "x").alias("_cov"),
        F.var_pop("x").alias("_varx"),
        F.avg("y").alias("_my"),
        F.avg("x").alias("_mx"),
        F.corr("y", "x").alias("_r"),
    )
    slope = F.col("_cov") / F.col("_varx")
    return g.select(
        "event_type",
        "n",
        F.round(slope, R).alias("slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), R).alias("intercept"),
        F.round(F.col("_r") * F.col("_r"), R).alias("r2"),
    ).orderBy("event_type")


@register(
    "stats_mutual_info",
    doc="mutual information between lang and source (bits), with the "
    "marginal entropies and normalized MI -- the feature-dependence "
    "readout next to stats_chi_square, from the SAME contingency "
    "rollup shape: one (lang, source) count shuffle, two tiny "
    "broadcast margins, a one-row result. log2 via ln/ln(2) on both "
    "engines so the arithmetic is term-identical.",
    oracle=f"""
WITH o AS (SELECT lang, source, count(*)::DOUBLE AS c FROM documents GROUP BY lang, source),
n AS (SELECT SUM(c) AS n FROM o),
r AS (SELECT lang, SUM(c) AS rc FROM o GROUP BY lang),
cl AS (SELECT source, SUM(c) AS cc FROM o GROUP BY source),
mi AS (
  SELECT SUM((c / n.n) * ln(c * n.n / (rc * cc)) / ln(2)) AS mi
  FROM o JOIN r USING (lang) JOIN cl USING (source) CROSS JOIN n
),
hl AS (SELECT -SUM((rc / n.n) * ln(rc / n.n) / ln(2)) AS h FROM r CROSS JOIN n),
hs AS (SELECT -SUM((cc / n.n) * ln(cc / n.n) / ln(2)) AS h FROM cl CROSS JOIN n)
SELECT ROUND(mi.mi, {R}) AS mi_bits,
       ROUND(hl.h, {R}) AS h_lang,
       ROUND(hs.h, {R}) AS h_source,
       ROUND(mi.mi / sqrt(hl.h * hs.h), {R}) AS nmi
FROM mi, hl, hs
""",
)
def stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("double").alias("c"))
    n = o.agg(F.sum("c").alias("n"))
    r = o.groupBy("lang").agg(F.sum("c").alias("rc"))
    cl = o.groupBy("source").agg(F.sum("c").alias("cc"))
    ln2 = F.log(F.lit(2.0))
    mi = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(cl), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (F.col("c") / F.col("n"))
                * F.log(F.col("c") * F.col("n") / (F.col("rc") * F.col("cc")))
                / ln2
            ).alias("mi")
        )
    )
    hl = r.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("rc") / F.col("n")) * F.log(F.col("rc") / F.col("n")) / ln2)).alias("h_l")
    )
    hs = cl.crossJoin(F.broadcast(n)).agg(
        (-F.sum((F.col("cc") / F.col("n")) * F.log(F.col("cc") / F.col("n")) / ln2)).alias("h_s")
    )
    return (
        mi.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .select(
            F.round("mi", R).alias("mi_bits"),
            F.round("h_l", R).alias("h_lang"),
            F.round("h_s", R).alias("h_source"),
            F.round(F.col("mi") / F.sqrt(F.col("h_l") * F.col("h_s")), R).alias("nmi"),
        )
    )


@register(
    "stats_winsorized_mean",
    doc="robust location estimates per returnflag: raw mean beside the "
    "5/95-winsorized mean (values CLAMPED to the exact interpolated "
    "p5/p95, the percentile<->quantile_cont pairing "
    "agg_percentile_contract certifies) and the trimmed mean (values "
    "strictly inside the fences dropped -- inclusive bounds). One "
    "percentile rollup broadcast back over one clamp pass.",
    oracle=f"""
WITH p AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(AVG(l_extendedprice), {R}) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(l_extendedprice, p.p05), p.p95)), {R}) AS mean_winsorized,
       ROUND(AVG(CASE WHEN l_extendedprice BETWEEN p.p05 AND p.p95
                      THEN l_extendedprice END), {R}) AS mean_trimmed
FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
GROUP BY l.l_returnflag ORDER BY l.l_returnflag
""",
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # rank-selection quantiles, not the exact percentile() aggregate:
    # per-flag value buffers would ride the shuffle and concentrate on
    # one reducer per flag at scale (operators/scan_quantile.py; the
    # r09 levene shuffle-audit finding, same class)
    p = group_quantiles_exact(
        li.select(F.col("l_returnflag").alias("_rf"), "l_extendedprice"),
        "_rf",
        "l_extendedprice",
        [0.05, 0.95],
        ["p05", "p95"],
    )
    j = li.join(F.broadcast(p), li["l_returnflag"] == p["_rf"])
    clamped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
    inside = F.col("l_extendedprice").between(F.col("p05"), F.col("p95"))
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), R).alias("mean_raw"),
            F.round(F.avg(clamped), R).alias("mean_winsorized"),
            F.round(F.avg(F.when(inside, F.col("l_extendedprice"))), R).alias("mean_trimmed"),
        )
        .orderBy("l_returnflag")
    )


def _bootstrap_oracle() -> str:
    from testlog_etl_spark.oracles import xxh64_sql

    h = xxh64_sql("o_orderkey::VARCHAR || ':' || b::VARCHAR")
    return f"""
WITH d AS (
  SELECT o_totalprice, t.b AS b,
         (({h}) % 1000000 + 1000000) % 1000000 AS h
  FROM orders CROSS JOIN range(32) t(b)
),
w AS (
  SELECT b, o_totalprice,
         CASE WHEN h < 367879 THEN 0 WHEN h < 735758 THEN 1 WHEN h < 919698 THEN 2
              WHEN h < 981011 THEN 3 WHEN h < 996340 THEN 4 ELSE 5 END AS w
  FROM d
),
rep AS (SELECT b, SUM(w * o_totalprice) / SUM(w) AS m FROM w GROUP BY b),
base AS (SELECT count(*)::BIGINT AS n, AVG(o_totalprice) AS mean FROM orders)
SELECT base.n,
       ROUND(base.mean, 2) AS mean,
       CAST(32 AS INT) AS n_replicates,
       ROUND(AVG(rep.m), 2) AS boot_mean,
       ROUND(quantile_cont(rep.m, 0.025), 2) AS ci_lo,
       ROUND(quantile_cont(rep.m, 0.975), 2) AS ci_hi
FROM rep CROSS JOIN base GROUP BY base.n, base.mean
"""


@register(
    "stats_bootstrap_poisson",
    doc="distributed bootstrap CI via the POISSON bootstrap -- the "
    "variant that works on data too large to multinomial-resample: "
    "each of 32 replicates weights every row by an approximate "
    "Poisson(1) draw (inverse-CDF over a deterministic per-(row, "
    "replicate) xxhash64 bucket, cutoffs precomputed as INTEGER "
    "literals so no exp() runs in-query on either engine), replicate "
    "means summarized by exact-interpolated 2.5/97.5 percentiles. The "
    "32x row fan-out collapses in the map-side partial aggregate -- "
    "the shuffle carries 32 rows per partition, never 32x the data.",
    oracle=None,  # generated below: needs the xxh64 SQL twin
)
def stats_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    h = F.pmod(
        F.xxhash64(F.concat_ws(":", F.col("o_orderkey"), F.col("b"))), F.lit(1000000)
    )
    w = (
        F.when(h < 367879, 0)
        .when(h < 735758, 1)
        .when(h < 919698, 2)
        .when(h < 981011, 3)
        .when(h < 996340, 4)
        .otherwise(5)
    )
    rep = (
        d.withColumn("w", w)
        .groupBy("b")
        .agg((F.sum(F.col("w") * F.col("o_totalprice")) / F.sum("w")).alias("m"))
    )
    base = orders.agg(
        F.count(F.lit(1)).alias("n"), F.avg("o_totalprice").alias("_mean")
    )
    return (
        rep.crossJoin(F.broadcast(base))
        .groupBy("n", "_mean")
        .agg(
            F.lit(32).alias("n_replicates"),
            F.round(F.avg("m"), 2).alias("boot_mean"),
            F.round(F.expr("percentile(m, 0.025)"), 2).alias("ci_lo"),
            F.round(F.expr("percentile(m, 0.975)"), 2).alias("ci_hi"),
        )
        .select(
            "n", F.round("_mean", 2).alias("mean"), "n_replicates",
            "boot_mean", "ci_lo", "ci_hi",
        )
    )


from testlog_etl_spark.suite import REGISTRY as _REG  # noqa: E402

_REG["stats_bootstrap_poisson"].oracle = _bootstrap_oracle()


@register(
    "stats_runs_test",
    doc="Wald-Wolfowitz runs test for randomness on the daily revenue "
    "series: days classified above/below the EXACT median, runs "
    "counted as sign-changes + 1 (one lag over the day-ordered "
    "rollup), z-score against the closed-form run-count expectation "
    "mu = 2 n1 n2 / n + 1. The trend/cycle screen beside the "
    "autocorrelation readout; median via the certified "
    "percentile<->quantile_cont pairing, days AT the median excluded "
    "(the standard convention).",
    oracle="""
WITH d AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(o_totalprice) AS rev
  FROM orders GROUP BY day
),
m AS (SELECT quantile_cont(rev, 0.5) AS med FROM d),
s AS (
  SELECT day, CASE WHEN rev > m.med THEN 1 ELSE 0 END AS up
  FROM d CROSS JOIN m WHERE rev <> m.med
),
l AS (
  SELECT up, lag(up) OVER (ORDER BY day) AS pup FROM s
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN pup IS NULL OR up <> pup THEN 1 ELSE 0 END) AS DOUBLE) AS runs,
    CAST(SUM(up) AS DOUBLE) AS n1,
    CAST(SUM(1 - up) AS DOUBLE) AS n2
  FROM l
)
SELECT CAST(runs AS BIGINT) AS n_runs,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       ROUND(2 * n1 * n2 / (n1 + n2) + 1, 4) AS expected_runs,
       ROUND((runs - (2 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 4) AS z
FROM agg
""",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("rev"))
    m = d.agg(F.expr("percentile(rev, 0.5)").alias("med"))
    s = (
        d.crossJoin(F.broadcast(m))
        .filter(F.col("rev") != F.col("med"))
        .select("day", (F.col("rev") > F.col("med")).cast("int").alias("up"))
    )
    # the day series is bounded by the calendar span (one row per day),
    # so the single lag over it is a bounded frame, not data-scaling
    w = Window.orderBy("day")
    l = s.select("up", F.lag("up").over(w).alias("pup"))
    agg = l.agg(
        F.sum(
            F.when(F.col("pup").isNull() | (F.col("up") != F.col("pup")), 1).otherwise(0)
        )
        .cast("double")
        .alias("runs"),
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
    )
    n = F.col("n1") + F.col("n2")
    mu = 2 * F.col("n1") * F.col("n2") / n + 1
    var = (
        2
        * F.col("n1")
        * F.col("n2")
        * (2 * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2"))
        / (n * n * (n - 1))
    )
    return agg.select(
        F.col("runs").cast("long").alias("n_runs"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        F.round(mu, 4).alias("expected_runs"),
        F.round((F.col("runs") - mu) / F.sqrt(var), 4).alias("z"),
    )


@register(
    "stats_delta_method_ci",
    doc="ratio-metric A/B readout with DELTA-METHOD standard errors -- "
    "the experimentation-platform staple for metrics like "
    "revenue-per-unit where both numerator and denominator are random: "
    "R = sum(x)/sum(y) per arm (odd/even orderkey split of lineitem), "
    "var(R) ~= (sigma_x^2 - 2 R cov + R^2 sigma_y^2) / (n ybar^2), "
    "z on the arm difference. One moment rollup per arm "
    "(var_pop/covar_pop single-scan aggregates, the stats_correlation "
    "pairing); no resampling anywhere.",
    oracle="""
WITH g AS (
  SELECT l_orderkey % 2 AS arm,
         count(*)::DOUBLE AS n,
         AVG(l_extendedprice) AS mx, AVG(l_quantity) AS my,
         var_pop(l_extendedprice) AS vx, var_pop(l_quantity) AS vy,
         covar_pop(l_extendedprice, l_quantity) AS cxy
  FROM lineitem GROUP BY arm
),
r AS (
  SELECT arm, n, mx / my AS ratio,
         (vx - 2 * (mx / my) * cxy + (mx / my) * (mx / my) * vy) / (n * my * my) AS var_r
  FROM g
),
a AS (SELECT * FROM r WHERE arm = 0),
b AS (SELECT * FROM r WHERE arm = 1)
SELECT CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       ROUND(a.ratio, 6) AS ratio_a, ROUND(b.ratio, 6) AS ratio_b,
       ROUND(a.ratio - b.ratio, 6) AS diff,
       ROUND(sqrt(a.var_r + b.var_r), 6) AS se,
       ROUND((a.ratio - b.ratio) / sqrt(a.var_r + b.var_r), 4) AS z
FROM a CROSS JOIN b
""",
)
def stats_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    g = li.groupBy(F.pmod("l_orderkey", F.lit(2)).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("l_extendedprice").alias("mx"),
        F.avg("l_quantity").alias("my"),
        F.var_pop("l_extendedprice").alias("vx"),
        F.var_pop("l_quantity").alias("vy"),
        F.covar_pop("l_extendedprice", "l_quantity").alias("cxy"),
    )
    ratio = F.col("mx") / F.col("my")
    var_r = (
        F.col("vx") - 2 * ratio * F.col("cxy") + ratio * ratio * F.col("vy")
    ) / (F.col("n") * F.col("my") * F.col("my"))
    r = g.select("arm", "n", ratio.alias("ratio"), var_r.alias("var_r"))
    a = r.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("ratio").alias("ra"), F.col("var_r").alias("va")
    )
    b = r.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("ratio").alias("rb"), F.col("var_r").alias("vb")
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round("ra", 6).alias("ratio_a"),
        F.round("rb", 6).alias("ratio_b"),
        F.round(F.col("ra") - F.col("rb"), 6).alias("diff"),
        F.round(F.sqrt(F.col("va") + F.col("vb")), 6).alias("se"),
        F.round((F.col("ra") - F.col("rb")) / F.sqrt(F.col("va") + F.col("vb")), 4).alias("z"),
    )


@register(
    "stats_mann_whitney",
    doc="Mann-Whitney U (Wilcoxon rank-sum) per l_returnflag: arms are "
    "the deterministic odd/even orderkey split, metric "
    "l_extendedprice. Average ranks come from a per-VALUE rollup "
    "(rank(v) = count-below + (count-at+1)/2), so the window cumsum "
    "runs over DISTINCT values partitioned by returnflag -- parallel "
    "across partitions, tie order can never move the statistic. "
    "Tie-corrected normal approximation: "
    "var = na*nb/12 * ((n+1) - sum(t^3-t)/(n*(n-1))).",
    oracle=f"""
WITH v AS (
  SELECT l_returnflag AS flag, l_extendedprice AS val,
         CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END AS is_a
  FROM lineitem
),
pv AS (
  SELECT flag, val, SUM(is_a)::BIGINT AS ca, COUNT(*)::BIGINT AS ct
  FROM v GROUP BY flag, val
),
cum AS (
  SELECT flag, val, ca, ct,
         SUM(ct) OVER (PARTITION BY flag ORDER BY val
                       ROWS UNBOUNDED PRECEDING) - ct AS below
  FROM pv
),
agg AS (
  SELECT flag,
         SUM(ca)::DOUBLE AS na,
         SUM(ct - ca)::DOUBLE AS nb,
         SUM(ca * (below + (ct + 1) / 2.0)) AS r1,
         SUM(ct * ct * ct - ct)::DOUBLE AS ties
  FROM cum GROUP BY flag
)
SELECT flag,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       ROUND(r1 - na * (na + 1) / 2.0, 2) AS u_stat,
       ROUND((r1 - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0
                    * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1)))), 4) AS z
FROM agg ORDER BY flag
""",
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("val"),
        (F.col("l_orderkey") % 2 == 1).cast("int").alias("is_a"),
    )
    pv = v.groupBy("flag", "val").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("ct")
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pv.withColumn("below", F.sum("ct").over(w) - F.col("ct"))
    agg = cum.groupBy("flag").agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum(F.col("ct") - F.col("ca")).cast("double").alias("nb"),
        F.sum(F.col("ca") * (F.col("below") + (F.col("ct") + 1) / 2.0)).alias("r1"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("double")
        .alias("ties"),
    )
    n = F.col("na") + F.col("nb")
    u = F.col("r1") - F.col("na") * (F.col("na") + 1) / 2.0
    var = (
        F.col("na")
        * F.col("nb")
        / 12.0
        * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    return agg.select(
        "flag",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(u, 2).alias("u_stat"),
        F.round((u - F.col("na") * F.col("nb") / 2.0) / F.sqrt(var), 4).alias("z"),
    ).orderBy("flag")


@register(
    "stats_anova_oneway",
    doc="one-way ANOVA of order value across the five o_orderpriority "
    "groups: SSB = sum n_g (mean_g - grand)^2, SSW = sum n_g "
    "var_pop_g, F = (SSB/(k-1)) / (SSW/(n-k)), effect size eta^2 = "
    "SSB/(SSB+SSW). One scan (per-group count/avg/var_pop rollup), "
    "then arithmetic over k=5 rows -- both engines use stable one-pass "
    "variance, so the round-4 statistic is engine-portable (the "
    "Welch-t / delta-method precedent).",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS grp, COUNT(*)::DOUBLE AS n,
         AVG(o_totalprice) AS m, var_pop(o_totalprice) AS v
  FROM orders GROUP BY grp
),
t AS (SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm, COUNT(*)::DOUBLE AS k FROM g),
s AS (
  SELECT MAX(k) AS k, MAX(nt) AS nt,
         SUM(n * (m - gm) * (m - gm)) AS ssb,
         SUM(n * v) AS ssw
  FROM g CROSS JOIN t
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nt AS BIGINT) AS n,
       ROUND((ssb / (k - 1)) / (ssw / (nt - k)), {R}) AS f_stat,
       ROUND(ssb / (ssb + ssw), 6) AS eta_sq
FROM s
""",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_pop("o_totalprice").alias("v"),
    )
    t = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    s = g.crossJoin(F.broadcast(t)).agg(
        F.max("k").alias("k"),
        F.max("nt").alias("nt"),
        F.sum(F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("ssb"),
        F.sum(F.col("n") * F.col("v")).alias("ssw"),
    )
    return s.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nt") - F.col("k"))), R
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_sq"),
    )


@register(
    "stats_spearman_corr",
    doc="Spearman rank correlation (tie-aware average ranks) between "
    "event value and hour-of-day, per event_type: rank maps built from "
    "per-VALUE rollups (rank(v) = count-below + (count-at+1)/2, the "
    "mann_whitney construction), joined back to rows, then Pearson "
    "corr over the rank pairs. Windows partition by event_type over "
    "DISTINCT values; the join back is an equi-shuffle on "
    "(type, value) -- no global sort anywhere.",
    oracle=f"""
WITH v AS (
  SELECT event_type AS et, "value" AS x, EXTRACT(hour FROM ts)::DOUBLE AS y
  FROM events
),
rx AS (
  SELECT et, x,
         SUM(COUNT(*)) OVER (PARTITION BY et ORDER BY x
                             ROWS UNBOUNDED PRECEDING)
           - COUNT(*) + (COUNT(*) + 1) / 2.0 AS xr
  FROM v GROUP BY et, x
),
ry AS (
  SELECT et, y,
         SUM(COUNT(*)) OVER (PARTITION BY et ORDER BY y
                             ROWS UNBOUNDED PRECEDING)
           - COUNT(*) + (COUNT(*) + 1) / 2.0 AS yr
  FROM v GROUP BY et, y
)
SELECT v.et AS event_type,
       COUNT(*)::BIGINT AS n,
       ROUND(corr(xr, yr), {R}) AS spearman_rho
FROM v JOIN rx ON rx.et = v.et AND rx.x = v.x
       JOIN ry ON ry.et = v.et AND ry.y = v.y
GROUP BY v.et ORDER BY v.et
""",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.select(
        F.col("event_type").alias("et"),
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
    )

    def rank_map(col: str, out: str) -> DataFrame:
        w = (
            Window.partitionBy("et")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            v.groupBy("et", col)
            .agg(F.count(F.lit(1)).alias("ct"))
            .withColumn(
                out,
                F.sum("ct").over(w) - F.col("ct") + (F.col("ct") + 1) / 2.0,
            )
            .drop("ct")
        )

    joined = v.join(rank_map("x", "xr"), ["et", "x"]).join(
        rank_map("y", "yr"), ["et", "y"]
    )
    return (
        joined.groupBy(F.col("et").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("xr", "yr"), R).alias("spearman_rho"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_kendall_tau",
    doc="Kendall tau-b per event_type between the daily value-sum and "
    "daily event-count series: all-pairs concordant/discordant/tie "
    "counts over the day-indexed rollup -- the pair self-join is "
    "CALENDAR-bounded (one row per day per type; ~30x30 pairs "
    "whatever the raw row count), counts are exact integers, "
    "tau_b = (C - D)/sqrt((n0 - n1)(n0 - n2)) with the standard tie "
    "corrections. The rank-correlation complement to spearman_corr "
    "when the series have heavy ties.",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         ROUND(SUM("value"), 6) AS x, count(*)::BIGINT AS y
  FROM events GROUP BY event_type, day
),
s AS (
  SELECT event_type, x, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM d
),
pairs AS (
  SELECT a.event_type,
         SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)::BIGINT AS c,
         SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)::BIGINT AS disc,
         SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)::BIGINT AS n1,
         SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END)::BIGINT AS n2,
         COUNT(*)::BIGINT AS n0,
         MAX(a.i) AS _na
  FROM s a JOIN s b ON b.event_type = a.event_type AND b.i > a.i
  GROUP BY a.event_type
),
n AS (SELECT event_type, max(i) AS n_days FROM s GROUP BY event_type)
SELECT p.event_type, CAST(n.n_days AS BIGINT) AS n_days,
       p.c AS concordant, p.disc AS discordant,
       ROUND((p.c - p.disc) / sqrt((p.n0 - p.n1) * (p.n0 - p.n2)), {R}) AS tau_b
FROM pairs p JOIN n ON n.event_type = p.event_type
ORDER BY p.event_type
""",
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.round(F.sum("value"), 6).alias("x"), F.count(F.lit(1)).alias("y")
    )
    s = d.select(
        "event_type",
        "x",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    a = s.select(
        F.col("event_type").alias("et"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("i").alias("ia"),
    )
    b = s.select(
        F.col("event_type").alias("et"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("i").alias("ib"),
    )
    dx = F.col("xb") - F.col("xa")
    dy = (F.col("yb") - F.col("ya")).cast("double")
    pairs = (
        a.join(b, "et")
        .filter(F.col("ib") > F.col("ia"))
        .groupBy("et")
        .agg(
            F.sum(F.when(dx * dy > 0, 1).otherwise(0)).alias("c"),
            F.sum(F.when(dx * dy < 0, 1).otherwise(0)).alias("disc"),
            F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("yb") == F.col("ya"), 1).otherwise(0)).alias("n2"),
            F.count(F.lit(1)).alias("n0"),
        )
    )
    n = s.groupBy("event_type").agg(F.max("i").alias("n_days"))
    return (
        pairs.join(n, pairs.et == n.event_type)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("c").alias("concordant"),
            F.col("disc").alias("discordant"),
            F.round(
                (F.col("c") - F.col("disc"))
                / F.sqrt(
                    ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))).cast(
                        "double"
                    )
                ),
                R,
            ).alias("tau_b"),
        )
        .orderBy("event_type")
    )


# Abramowitz-Stegun 7.1.26 erfc -- the SAME formula string on both
# engines (p-values are approximations by construction; determinism
# comes from identical expression trees + the round-6 presentation)
_AS_ERFC = (
    "(0.254829592 * {t} - 0.284496736 * pow({t}, 2) + 1.421413741 * pow({t}, 3)"
    " - 1.453152027 * pow({t}, 4) + 1.061405429 * pow({t}, 5)) * exp(-({x}) * ({x}))"
)


@register(
    "stats_benjamini_hochberg",
    doc="Benjamini-Hochberg FDR step-up over the family of per-"
    "event_type Welch z-tests (odd/even user_id arms on value): "
    "two-sided p from the Abramowitz-Stegun 7.1.26 erfc "
    "approximation evaluated as the IDENTICAL expression tree on "
    "both engines, ranked ascending over the m=5 family (bounded "
    "frame), rejected iff rank <= max{{k: p_k <= k q / m}} at "
    "q = 0.10. The multiple-testing gate the chi2/KS/t family feeds.",
    oracle=f"""
WITH arms AS (
  SELECT event_type, user_id % 2 AS arm,
         COUNT(*)::DOUBLE AS n, AVG("value") AS m, var_samp("value") AS v
  FROM events GROUP BY event_type, arm
),
z AS (
  SELECT a1.event_type,
         (a1.m - a0.m) / sqrt(a1.v / a1.n + a0.v / a0.n) AS z
  FROM arms a1 JOIN arms a0
    ON a0.event_type = a1.event_type AND a1.arm = 1 AND a0.arm = 0
),
p AS (
  SELECT event_type, z,
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)")}, 6) AS pv
  FROM z
),
r AS (
  SELECT event_type, z, pv,
         ROW_NUMBER() OVER (ORDER BY pv, event_type) AS k,
         COUNT(*) OVER () AS m
  FROM p
),
kmax AS (
  SELECT COALESCE(MAX(CASE WHEN pv * m <= k * 0.10 THEN k END), 0) AS km FROM r
)
SELECT r.event_type, ROUND(r.z, 4) AS z, r.pv AS p_value,
       CAST(r.k AS BIGINT) AS p_rank,
       ROUND(r.k * 0.10 / r.m, 6) AS bh_cutoff,
       r.k <= kmax.km AS rejected
FROM r CROSS JOIN kmax
ORDER BY r.event_type
""",
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    arms = ev.groupBy("event_type", (F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        "event_type", F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        "event_type", F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
    )
    z = a1.join(a0, "event_type").select(
        "event_type",
        (
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
        ).alias("z"),
    )
    erfc = _AS_ERFC.format(
        t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))",
        x="abs(z) / sqrt(2.0)",
    )
    p = z.select("event_type", "z", F.round(F.expr(erfc), 6).alias("pv"))
    # family rank runs over the m=5 event types -- a fixed tiny frame
    wk = Window.orderBy("pv", "event_type")
    r = p.select(
        "event_type",
        "z",
        "pv",
        F.row_number().over(wk).alias("k"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    kmax = r.agg(
        F.coalesce(
            F.max(F.when(F.col("pv") * F.col("m") <= F.col("k") * 0.10, F.col("k"))),
            F.lit(0),
        ).alias("km")
    )
    return (
        r.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            F.round("z", 4).alias("z"),
            F.col("pv").alias("p_value"),
            F.col("k").cast("long").alias("p_rank"),
            F.round(F.col("k") * 0.10 / F.col("m"), 6).alias("bh_cutoff"),
            (F.col("k") <= F.col("km")).alias("rejected"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_cuped_adjustment",
    doc="CUPED variance-reduced A/B readout: unit = user, arms = "
    "odd/even user_id, metric y = late-period (day >= 15) value sum, "
    "covariate x = pre-period value sum; theta = covar_pop(x,y)/"
    "var_pop(x) fitted on ALL units (the standard pooled estimator), "
    "y_adj = y - theta (x - xbar). Reports the per-arm means, the "
    "achieved variance-reduction share (1 - var(y_adj)/var(y)) and "
    "the z-score on the adjusted difference -- the "
    "experimentation-platform companion to welch/delta-method. ONE "
    "per-user conditional rollup, then single-scan moment aggregates.",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         SUM(CASE WHEN EXTRACT(day FROM ts) >= 15 THEN "value" ELSE 0 END) AS y,
         SUM(CASE WHEN EXTRACT(day FROM ts) < 15 THEN "value" ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
th AS (
  SELECT covar_pop(x, y) / var_pop(x) AS theta, AVG(x) AS xbar,
         var_pop(y) AS vy FROM u
),
adj AS (
  SELECT u.arm, u.y, u.y - th.theta * (u.x - th.xbar) AS ya,
         th.vy AS vy
  FROM u CROSS JOIN th
),
vr AS (SELECT 1.0 - var_pop(ya) / MAX(vy) AS var_reduction FROM adj),
arms AS (
  SELECT arm, COUNT(*)::DOUBLE AS n, AVG(y) AS my, AVG(ya) AS mya,
         var_samp(ya) AS va
  FROM adj GROUP BY arm
)
SELECT CAST(a1.n AS BIGINT) AS n_treat, CAST(a0.n AS BIGINT) AS n_ctrl,
       ROUND(a1.my, 4) AS mean_y_treat, ROUND(a0.my, 4) AS mean_y_ctrl,
       ROUND(a1.mya - a0.mya, 4) AS adj_diff,
       ROUND((a1.mya - a0.mya) / sqrt(a1.va / a1.n + a0.va / a0.n), 4) AS z_adj,
       ROUND(vr.var_reduction, 4) AS var_reduction
FROM arms a1 JOIN arms a0 ON a1.arm = 1 AND a0.arm = 0
CROSS JOIN vr
""",
)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") >= 15, F.col("value")).otherwise(0.0)
        ).alias("y"),
        F.sum(
            F.when(F.dayofmonth("ts") < 15, F.col("value")).otherwise(0.0)
        ).alias("x"),
    ).withColumn("arm", F.col("user_id") % 2)
    th = u.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
        F.avg("x").alias("xbar"),
        F.var_pop("y").alias("vy"),
    )
    adj = u.crossJoin(F.broadcast(th)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))).alias("ya"),
        "vy",
    )
    vr = adj.agg((1.0 - F.var_pop("ya") / F.max("vy")).alias("var_reduction"))
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("my"),
        F.avg("ya").alias("mya"),
        F.var_samp("ya").alias("va"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("my").alias("my1"),
        F.col("mya").alias("mya1"), F.col("va").alias("va1"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("my").alias("my0"),
        F.col("mya").alias("mya0"), F.col("va").alias("va0"),
    )
    return (
        a1.crossJoin(F.broadcast(a0))
        .crossJoin(F.broadcast(vr))
        .select(
            F.col("n1").cast("long").alias("n_treat"),
            F.col("n0").cast("long").alias("n_ctrl"),
            F.round("my1", 4).alias("mean_y_treat"),
            F.round("my0", 4).alias("mean_y_ctrl"),
            F.round(F.col("mya1") - F.col("mya0"), 4).alias("adj_diff"),
            F.round(
                (F.col("mya1") - F.col("mya0"))
                / F.sqrt(F.col("va1") / F.col("n1") + F.col("va0") / F.col("n0")),
                4,
            ).alias("z_adj"),
            F.round("var_reduction", 4).alias("var_reduction"),
        )
    )


@register(
    "stats_two_proportion_z",
    doc="two-proportion z-test (pooled variance) on purchase share per "
    "arm (odd/even user_id): the conversion-rate A/B readout beside "
    "welch (means) and CUPED (variance reduction). Counts are exact "
    "integers from one conditional rollup; the statistic is closed-"
    "form arithmetic on 2 rows.",
    oracle="""
WITH arms AS (
  SELECT user_id % 2 AS arm,
         COUNT(*)::DOUBLE AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS k
  FROM events GROUP BY arm
)
SELECT CAST(a1.n AS BIGINT) AS n_treat, CAST(a0.n AS BIGINT) AS n_ctrl,
       CAST(a1.k AS BIGINT) AS conv_treat, CAST(a0.k AS BIGINT) AS conv_ctrl,
       ROUND(a1.k / a1.n, 6) AS rate_treat,
       ROUND(a0.k / a0.n, 6) AS rate_ctrl,
       ROUND((a1.k / a1.n - a0.k / a0.n)
             / sqrt(((a1.k + a0.k) / (a1.n + a0.n))
                    * (1.0 - (a1.k + a0.k) / (a1.n + a0.n))
                    * (1.0 / a1.n + 1.0 / a0.n)), 4) AS z
FROM arms a1 JOIN arms a0 ON a1.arm = 1 AND a0.arm = 0
""",
)
def stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("k"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("k").alias("k0")
    )
    pp = (F.col("k1") + F.col("k0")) / (F.col("n1") + F.col("n0"))
    return a1.crossJoin(F.broadcast(a0)).select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        F.col("k1").cast("long").alias("conv_treat"),
        F.col("k0").cast("long").alias("conv_ctrl"),
        F.round(F.col("k1") / F.col("n1"), 6).alias("rate_treat"),
        F.round(F.col("k0") / F.col("n0"), 6).alias("rate_ctrl"),
        F.round(
            (F.col("k1") / F.col("n1") - F.col("k0") / F.col("n0"))
            / F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n0"))),
            4,
        ).alias("z"),
    )


@register(
    "stats_sprt_sequential",
    doc="Wald SPRT early-stopping readout per event_type: H0 p=0.45 vs "
    "H1 p=0.55 on the share of high-value events (value > 100), "
    "alpha = beta = 0.05 (boundaries +-ln 19). The per-day LLR "
    "increment is closed-form from the (k, n) daily rollup "
    "(k ln(p1/p0) + (n-k) ln(q1/q0)) and the LLR path is an "
    "ASSOCIATIVE cumsum -- unlike CUSUM no fold is needed; the "
    "crossing day falls out of one conditional aggregate over the "
    "calendar-bounded cumulative series.",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CASE WHEN "value" > 100 THEN 1 ELSE 0 END)::DOUBLE AS k,
         COUNT(*)::DOUBLE AS n
  FROM events GROUP BY event_type, day
),
c AS (
  SELECT event_type, day,
         SUM(k * ln(0.55 / 0.45) + (n - k) * ln(0.45 / 0.55))
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS llr
  FROM d
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(MAX(CASE WHEN day = (SELECT MAX(day) FROM c c2 WHERE c2.event_type = c.event_type) THEN llr END), 4) AS final_llr,
       MIN(CASE WHEN llr >= ln(19.0) OR llr <= -ln(19.0) THEN day END) AS first_crossing,
       CASE
         WHEN MIN(CASE WHEN llr >= ln(19.0) THEN day END) IS NOT NULL
              AND (MIN(CASE WHEN llr <= -ln(19.0) THEN day END) IS NULL
                   OR MIN(CASE WHEN llr >= ln(19.0) THEN day END)
                      < MIN(CASE WHEN llr <= -ln(19.0) THEN day END))
           THEN 'accept_h1'
         WHEN MIN(CASE WHEN llr <= -ln(19.0) THEN day END) IS NOT NULL
           THEN 'accept_h0'
         ELSE 'continue'
       END AS decision
FROM c
GROUP BY event_type
ORDER BY event_type
""",
)
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum((F.col("value") > 100).cast("int")).cast("double").alias("k"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    import math as _m

    l1 = _m.log(0.55 / 0.45)
    l0 = _m.log(0.45 / 0.55)
    bound = _m.log(19.0)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.select(
        "event_type",
        "day",
        F.sum(F.col("k") * F.lit(l1) + (F.col("n") - F.col("k")) * F.lit(l0))
        .over(w)
        .alias("llr"),
    )
    wmax = Window.partitionBy("event_type")
    c = c.withColumn("max_day", F.max("day").over(wmax))
    hi = F.min(F.when(F.col("llr") >= bound, F.col("day")))
    lo = F.min(F.when(F.col("llr") <= -bound, F.col("day")))
    return (
        c.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.max(F.when(F.col("day") == F.col("max_day"), F.col("llr"))), 4
            ).alias("final_llr"),
            F.least(hi, lo).alias("first_crossing"),
            F.when(
                hi.isNotNull() & (lo.isNull() | (hi < lo)), F.lit("accept_h1")
            )
            .when(lo.isNotNull(), F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_levene_test",
    doc="Brown-Forsythe homogeneity-of-variance test across the five "
    "order priorities: one-way ANOVA F applied to |x - median_g| "
    "(median-centered Levene -- robust to non-normality), medians via "
    "the certified percentile pairing, then the anova_oneway moment "
    "algebra on the transformed variable. The variance-equality "
    "pre-check for anova/welch model choice.",
    oracle=f"""
WITH med AS (
  SELECT o_orderpriority AS grp, quantile_cont(o_totalprice, 0.5) AS md
  FROM orders GROUP BY grp
),
z AS (
  SELECT o.o_orderpriority AS grp, abs(o.o_totalprice - med.md) AS z
  FROM orders o JOIN med ON med.grp = o.o_orderpriority
),
g AS (
  SELECT grp, COUNT(*)::DOUBLE AS n, AVG(z) AS m, var_pop(z) AS v
  FROM z GROUP BY grp
),
t AS (SELECT SUM(n) AS nt, SUM(n * m) / SUM(n) AS gm, COUNT(*)::DOUBLE AS k FROM g),
s AS (
  SELECT MAX(k) AS k, MAX(nt) AS nt,
         SUM(n * (m - gm) * (m - gm)) AS ssb,
         SUM(n * v) AS ssw
  FROM g CROSS JOIN t
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nt AS BIGINT) AS n,
       ROUND((ssb / (k - 1)) / (ssw / (nt - k)), {R}) AS w_stat
FROM s
""",
)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    # Per-group medians via the rank-selection operator, NOT the exact
    # percentile() aggregate: percentile buffers every group value in
    # its aggregation state (measured 80 KB/shuffle-record here at
    # sf0.1 -- the r09 window shuffle audit), and each group's buffer
    # merge lands on one reducer; group_quantiles_exact shuffles only
    # (grp, value, count) rollup rows and is bit-identical to
    # percentile()/quantile_cont (operators/scan_quantile.py).
    med = group_quantiles_exact(
        orders.select(F.col("o_orderpriority").alias("grp"), "o_totalprice"),
        "grp",
        "o_totalprice",
        [0.5],
        ["md"],
    )
    z = (
        orders.join(
            F.broadcast(med), orders.o_orderpriority == med.grp
        ).select("grp", F.abs(F.col("o_totalprice") - F.col("md")).alias("z"))
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("z").alias("m"),
        F.var_pop("z").alias("v"),
    )
    t = g.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    s = g.crossJoin(F.broadcast(t)).agg(
        F.max("k").alias("k"),
        F.max("nt").alias("nt"),
        F.sum(F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("ssb"),
        F.sum(F.col("n") * F.col("v")).alias("ssw"),
    )
    return s.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            R,
        ).alias("w_stat"),
    )


@register(
    "stats_effect_sizes",
    doc="effect-size suite per l_returnflag for the odd/even orderkey "
    "arms on l_extendedprice: Cohen's d (pooled-SD standardized mean "
    "difference), Hedges' g (small-sample correction 1 - 3/(4 df - "
    "1)), and Cliff's delta derived EXACTLY from the Mann-Whitney "
    "U (delta = 2U/(n1 n2) - 1, tie-averaged ranks from the per-VALUE "
    "rollup). The practical-significance companion to the z/p "
    "readouts: same shuffles as mann_whitney plus one moment rollup.",
    oracle=f"""
WITH v AS (
  SELECT l_returnflag AS flag, l_extendedprice AS val,
         CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END AS is_a
  FROM lineitem
),
mo AS (
  SELECT flag,
         COUNT(*) FILTER (is_a = 1)::DOUBLE AS na,
         COUNT(*) FILTER (is_a = 0)::DOUBLE AS nb,
         AVG(val) FILTER (is_a = 1) AS ma,
         AVG(val) FILTER (is_a = 0) AS mb,
         var_samp(val) FILTER (is_a = 1) AS va,
         var_samp(val) FILTER (is_a = 0) AS vb
  FROM v GROUP BY flag
),
pv AS (
  SELECT flag, val, SUM(is_a)::BIGINT AS ca, COUNT(*)::BIGINT AS ct
  FROM v GROUP BY flag, val
),
cum AS (
  SELECT flag, ca, ct,
         SUM(ct) OVER (PARTITION BY flag ORDER BY val
                       ROWS UNBOUNDED PRECEDING) - ct AS below
  FROM pv
),
u AS (
  SELECT flag,
         SUM(ca * (below + (ct + 1) / 2.0))
           - (SELECT na FROM mo m WHERE m.flag = cum.flag)
             * ((SELECT na FROM mo m WHERE m.flag = cum.flag) + 1) / 2.0 AS u1
  FROM cum GROUP BY flag
)
SELECT mo.flag,
       ROUND((mo.ma - mo.mb)
             / sqrt(((mo.na - 1) * mo.va + (mo.nb - 1) * mo.vb)
                    / (mo.na + mo.nb - 2)), 6) AS cohens_d,
       ROUND(((mo.ma - mo.mb)
              / sqrt(((mo.na - 1) * mo.va + (mo.nb - 1) * mo.vb)
                     / (mo.na + mo.nb - 2)))
             * (1.0 - 3.0 / (4.0 * (mo.na + mo.nb - 2) - 1.0)), 6) AS hedges_g,
       ROUND(2.0 * u.u1 / (mo.na * mo.nb) - 1.0, 6) AS cliffs_delta
FROM mo JOIN u ON u.flag = mo.flag
ORDER BY mo.flag
""",
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("val"),
        (F.col("l_orderkey") % 2 == 1).cast("int").alias("is_a"),
    )
    mo = v.groupBy("flag").agg(
        F.sum("is_a").cast("double").alias("na"),
        F.sum(1 - F.col("is_a")).cast("double").alias("nb"),
        F.avg(F.when(F.col("is_a") == 1, F.col("val"))).alias("ma"),
        F.avg(F.when(F.col("is_a") == 0, F.col("val"))).alias("mb"),
        F.var_samp(F.when(F.col("is_a") == 1, F.col("val"))).alias("va"),
        F.var_samp(F.when(F.col("is_a") == 0, F.col("val"))).alias("vb"),
    )
    pv = v.groupBy("flag", "val").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("ct")
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pv.withColumn("below", F.sum("ct").over(w) - F.col("ct"))
    r1 = cum.groupBy("flag").agg(
        F.sum(F.col("ca") * (F.col("below") + (F.col("ct") + 1) / 2.0)).alias("r1")
    )
    j = mo.join(r1, "flag")
    u1 = F.col("r1") - F.col("na") * (F.col("na") + 1) / 2.0
    d = (F.col("ma") - F.col("mb")) / F.sqrt(
        ((F.col("na") - 1) * F.col("va") + (F.col("nb") - 1) * F.col("vb"))
        / (F.col("na") + F.col("nb") - 2)
    )
    return j.select(
        "flag",
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("na") + F.col("nb") - 2) - 1.0)), 6
        ).alias("hedges_g"),
        F.round(2.0 * u1 / (F.col("na") * F.col("nb")) - 1.0, 6).alias("cliffs_delta"),
    ).orderBy("flag")


@register(
    "stats_wasserstein_drift",
    doc="1-D Wasserstein-1 (earth mover) drift per event_type between "
    "the first and second half of the month (day < 16 vs >= 16): "
    "W1 = integral |F1 - F2| dv computed EXACTLY on the per-VALUE "
    "rollup -- cumulative shares over distinct values times the gap "
    "to the next value (the KS construction with an integral instead "
    "of a sup). The magnitude-aware drift metric beside KS (shape), "
    "PSI (binned) and KL (likelihood): windows partition by type, "
    "shuffle ~ distinct values.",
    oracle=f"""
WITH v AS (
  SELECT event_type, "value" AS val,
         CASE WHEN EXTRACT(day FROM ts) < 16 THEN 1 ELSE 0 END AS is_a
  FROM events
),
pv AS (
  SELECT event_type, val, SUM(is_a)::BIGINT AS ca, SUM(1 - is_a)::BIGINT AS cb
  FROM v GROUP BY event_type, val
),
tot AS (
  SELECT event_type, SUM(ca)::DOUBLE AS na, SUM(cb)::DOUBLE AS nb
  FROM pv GROUP BY event_type
),
cum AS (
  SELECT pv.event_type, pv.val,
         SUM(ca) OVER w / na AS fa,
         SUM(cb) OVER w / nb AS fb,
         LEAD(pv.val) OVER w AS nxt
  FROM pv JOIN tot ON tot.event_type = pv.event_type
  WINDOW w AS (PARTITION BY pv.event_type ORDER BY pv.val ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       ROUND(SUM(abs(fa - fb) * (nxt - val)), 6) AS w1_distance,
       ROUND(MAX(abs(fa - fb)), 4) AS ks_stat
FROM cum WHERE nxt IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def stats_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.select(
        "event_type",
        F.col("value").alias("val"),
        (F.dayofmonth("ts") < 16).cast("int").alias("is_a"),
    )
    pv = v.groupBy("event_type", "val").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    tot = pv.groupBy("event_type").agg(
        F.sum("ca").cast("double").alias("na"), F.sum("cb").cast("double").alias("nb")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    word = Window.partitionBy("event_type").orderBy("val")
    cum = (
        pv.join(F.broadcast(tot), "event_type")
        .withColumn("fa", F.sum("ca").over(wcum) / F.col("na"))
        .withColumn("fb", F.sum("cb").over(wcum) / F.col("nb"))
        .withColumn("nxt", F.lead("val").over(word))
    )
    return (
        cum.filter(F.col("nxt").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.abs(F.col("fa") - F.col("fb")) * (F.col("nxt") - F.col("val"))),
                6,
            ).alias("w1_distance"),
            F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 4).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_mcnemar",
    doc="McNemar paired test on within-user behavior change: each user "
    "is classified high-activity (above the GLOBAL per-half median of "
    "user event counts) in the first vs second half of the month; the "
    "discordant-pair counts b (high->low) and c (low->high) give "
    "chi2 = (b - c)^2 / (b + c) with the continuity-corrected variant "
    "alongside. The paired-design complement to the two-proportion z "
    "(which wrongly assumes independent samples for repeated users). "
    "One per-(user, half) rollup + two broadcast medians.",
    oracle=f"""
WITH uh AS (
  SELECT user_id,
         SUM(CASE WHEN EXTRACT(day FROM ts) < 16 THEN 1 ELSE 0 END)::DOUBLE AS n1,
         SUM(CASE WHEN EXTRACT(day FROM ts) >= 16 THEN 1 ELSE 0 END)::DOUBLE AS n2
  FROM events GROUP BY user_id
),
med AS (
  SELECT quantile_cont(n1, 0.5) AS m1, quantile_cont(n2, 0.5) AS m2 FROM uh
),
cls AS (
  SELECT CASE WHEN n1 > m1 THEN 1 ELSE 0 END AS h1,
         CASE WHEN n2 > m2 THEN 1 ELSE 0 END AS h2
  FROM uh CROSS JOIN med
),
agg AS (
  SELECT SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)::DOUBLE AS b,
         SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS c,
         COUNT(*)::BIGINT AS n_users
  FROM cls
)
SELECT n_users,
       CAST(b AS BIGINT) AS high_to_low,
       CAST(c AS BIGINT) AS low_to_high,
       ROUND((b - c) * (b - c) / (b + c), {R}) AS mcnemar_chi2,
       ROUND((abs(b - c) - 1) * (abs(b - c) - 1) / (b + c), {R}) AS mcnemar_cc
FROM agg
""",
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    uh = ev.groupBy("user_id").agg(
        F.sum((F.dayofmonth("ts") < 16).cast("int")).cast("double").alias("n1"),
        F.sum((F.dayofmonth("ts") >= 16).cast("int")).cast("double").alias("n2"),
    )
    # rank-selection medians over the per-USER rollup (a scaling grain:
    # the exact percentile() buffers would hold every user's count on
    # one reducer -- operators/scan_quantile.py). The two metric columns
    # melt into (metric, value) rows so both medians share one scan.
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    melted = uh.select(
        F.explode(
            F.array(
                F.struct(F.lit("n1").alias("m"), F.col("n1").alias("v")),
                F.struct(F.lit("n2").alias("m"), F.col("n2").alias("v")),
            )
        ).alias("s")
    ).select(F.col("s.m").alias("m"), F.col("s.v").alias("v"))
    qd = group_quantiles_exact(melted, "m", "v", [0.5], ["md"])
    med = qd.agg(
        F.max(F.when(F.col("m") == "n1", F.col("md"))).alias("m1"),
        F.max(F.when(F.col("m") == "n2", F.col("md"))).alias("m2"),
    )
    cls = uh.crossJoin(F.broadcast(med)).select(
        (F.col("n1") > F.col("m1")).cast("int").alias("h1"),
        (F.col("n2") > F.col("m2")).cast("int").alias("h2"),
    )
    agg = cls.agg(
        F.sum(F.when((F.col("h1") == 1) & (F.col("h2") == 0), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when((F.col("h1") == 0) & (F.col("h2") == 1), 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.count(F.lit(1)).alias("n_users"),
    )
    b, c = F.col("b"), F.col("c")
    return agg.select(
        "n_users",
        b.cast("long").alias("high_to_low"),
        c.cast("long").alias("low_to_high"),
        F.round((b - c) * (b - c) / (b + c), R).alias("mcnemar_chi2"),
        F.round((F.abs(b - c) - 1) * (F.abs(b - c) - 1) / (b + c), R).alias(
            "mcnemar_cc"
        ),
    )


@register(
    "stats_partial_correlation",
    doc="first-order partial correlation per event_type: r(value, "
    "hour-of-day | day-of-month) = (rxy - rxz rzy) / sqrt((1-rxz^2)"
    "(1-rzy^2)) -- does the value~hour association survive "
    "controlling for the monthly trend? Three Pearson moments from "
    "ONE scan (corr is a single-pass aggregate on both engines, the "
    "stats_correlation pairing).",
    oracle=f"""
WITH v AS (
  SELECT event_type, "value" AS x,
         EXTRACT(hour FROM ts)::DOUBLE AS y,
         EXTRACT(day FROM ts)::DOUBLE AS z
  FROM events
),
c AS (
  SELECT event_type, COUNT(*)::BIGINT AS n,
         corr(x, y) AS rxy, corr(x, z) AS rxz, corr(z, y) AS rzy
  FROM v GROUP BY event_type
)
SELECT event_type, n,
       ROUND(rxy, {R}) AS r_xy,
       ROUND((rxy - rxz * rzy) / sqrt((1 - rxz * rxz) * (1 - rzy * rzy)), {R}) AS r_xy_given_z
FROM c ORDER BY event_type
""",
)
def stats_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    v = ev.select(
        "event_type",
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
        F.dayofmonth("ts").cast("double").alias("z"),
    )
    c = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.corr("x", "y").alias("rxy"),
        F.corr("x", "z").alias("rxz"),
        F.corr("z", "y").alias("rzy"),
    )
    return c.select(
        "event_type",
        "n",
        F.round("rxy", R).alias("r_xy"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("rzy"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("rzy") * F.col("rzy"))
            ),
            R,
        ).alias("r_xy_given_z"),
    ).orderBy("event_type")


@register(
    "stats_cramers_v",
    doc="Cramer's V effect size for the lang x source association: "
    "V = sqrt(chi2 / (n * min(r-1, c-1))) on the same "
    "observed-vs-independence cells as stats_chi_square -- the "
    "bounded [0,1] strength number the raw chi2 (which grows with n) "
    "can't give. Same one-rollup plan.",
    oracle=f"""
WITH o AS (SELECT lang, source, count(*)::DOUBLE AS obs FROM documents GROUP BY lang, source),
r AS (SELECT lang, SUM(obs) AS row_tot FROM o GROUP BY lang),
c AS (SELECT source, SUM(obs) AS col_tot FROM o GROUP BY source),
n AS (SELECT SUM(obs) AS n FROM o),
chi AS (
  SELECT SUM(pow(obs - row_tot * col_tot / n.n, 2) / (row_tot * col_tot / n.n)) AS chi2,
         MAX(n.n) AS n,
         (SELECT count(*) FROM r) AS nr,
         (SELECT count(*) FROM c) AS nc
  FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(chi2, {R}) AS chi2,
       CAST(LEAST(nr - 1, nc - 1) AS BIGINT) AS min_dim,
       ROUND(sqrt(chi2 / (n * LEAST(nr - 1, nc - 1))), {R}) AS cramers_v
FROM chi
""",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    nr = r.agg(F.count(F.lit(1)).alias("nr"))
    nc = c.agg(F.count(F.lit(1)).alias("nc"))
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    chi = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(F.pow(F.col("obs") - e, 2) / e).alias("chi2"),
            F.max("n").alias("n"),
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
    )
    md = F.least(F.col("nr") - 1, F.col("nc") - 1)
    return chi.select(
        F.col("n").cast("long").alias("n"),
        F.round("chi2", R).alias("chi2"),
        md.cast("long").alias("min_dim"),
        F.round(F.sqrt(F.col("chi2") / (F.col("n") * md)), R).alias("cramers_v"),
    )


_PACF_LAGS = tuple(range(1, 8))


def _pacf_oracle() -> str:
    lagcols = ",\n         ".join(f"lag(n, {k}) OVER w AS l{k}" for k in _PACF_LAGS)
    union = "\n  UNION ALL ".join(
        f"SELECT event_type, n, {k} AS lag, l{k} AS lx FROM l" for k in _PACF_LAGS
    )
    return f"""
WITH RECURSIVE
d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*)::DOUBLE AS n
  FROM events GROUP BY event_type, day
),
m AS (
  SELECT event_type, AVG(n) AS mu, var_pop(n) * COUNT(*) AS den
  FROM d GROUP BY event_type
),
l AS (
  SELECT event_type, n,
         {lagcols}
  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
u AS (
  {union}
),
acf AS (
  SELECT u.event_type, u.lag,
         ROUND(SUM((u.n - m.mu) * (u.lx - m.mu)) / MAX(m.den), 10) AS r
  FROM u JOIN m ON m.event_type = u.event_type
  WHERE u.lx IS NOT NULL
  GROUP BY u.event_type, u.lag
),
rl AS (
  SELECT event_type, list(r ORDER BY lag) AS rl FROM acf GROUP BY event_type
),
rec AS (
  SELECT event_type, 1 AS k, [rl[1]] AS phi,
         1.0 - rl[1] * rl[1] AS v, rl
  FROM rl
  UNION ALL
  SELECT r.event_type, r.k + 1,
         list_append(
           list_transform(range(1, r.k + 1),
             j -> r.phi[j] - ((r.rl[r.k + 1]
                   - list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, r.k + 1), i -> r.phi[i] * r.rl[r.k + 1 - i])),
                       (a, b) -> a + b)) / r.v) * r.phi[r.k + 1 - j]),
           (r.rl[r.k + 1]
                   - list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, r.k + 1), i -> r.phi[i] * r.rl[r.k + 1 - i])),
                       (a, b) -> a + b)) / r.v),
         r.v * (1.0 - pow((r.rl[r.k + 1]
                   - list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, r.k + 1), i -> r.phi[i] * r.rl[r.k + 1 - i])),
                       (a, b) -> a + b)) / r.v, 2)),
         r.rl
  FROM rec r WHERE r.k < {len(_PACF_LAGS)}
)
SELECT rec.event_type, rec.k AS lag,
       ROUND(rec.rl[rec.k], 4) AS acf,
       ROUND(rec.phi[rec.k], 4) AS pacf
FROM rec
ORDER BY event_type, lag
"""


@register(
    "ts_pacf_durbin_levinson",
    doc="partial autocorrelation function (lags 1..7) of the daily "
    "event-count series per event_type via the Durbin-Levinson "
    "recursion -- the AR-order diagnostic read next to the ACF "
    "(stats_ljung_box): phi_kk isolates lag-k dependence with "
    "shorter lags regressed out. ACF estimates are snapped to 10 "
    "places so both engines feed the recursion identical doubles; "
    "the level-k coefficient VECTOR rides an applyInPandas fold "
    "(parallel across types) and the oracle replays the identical "
    "op order as a list-carrying recursive CTE (the holt_winters "
    "playbook).",
    oracle=_pacf_oracle(),
)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    m = d.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        (F.var_pop("n") * F.count(F.lit(1))).alias("den"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in _PACF_LAGS],
    )
    stack_args = ", ".join(f"{k}, l{k}" for k in _PACF_LAGS)
    u = l.selectExpr(
        "event_type", "n", f"stack({len(_PACF_LAGS)}, {stack_args}) as (lag, lx)"
    ).filter(F.col("lx").isNotNull())
    acf = (
        u.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "lag")
        .agg(
            F.round(
                F.sum((F.col("n") - F.col("mu")) * (F.col("lx") - F.col("mu")))
                / F.max("den"),
                10,
            ).alias("r")
        )
    )
    out_schema = "event_type string, lag int, acf double, pacf double"

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("lag")
        rl = [float(v) for v in pdf["r"]]
        et = pdf["event_type"].iloc[0]
        phi = [rl[0]]
        v = 1.0 - rl[0] * rl[0]
        rows = [(et, 1, rl[0], phi[0])]
        for k in range(1, len(rl)):  # producing lag k+1 (0-based rl)
            acc = 0.0
            for i in range(1, k + 1):
                acc = acc + phi[i - 1] * rl[k - i]
            pk = (rl[k] - acc) / v
            phi = [phi[j - 1] - pk * phi[k - j] for j in range(1, k + 1)] + [pk]
            v = v * (1.0 - pk * pk)
            rows.append((et, k + 1, rl[k], pk))
        return pd.DataFrame(rows, columns=["event_type", "lag", "acf", "pacf"])

    return (
        acf.groupBy("event_type")
        .applyInPandas(fold, out_schema)
        .select(
            "event_type",
            "lag",
            F.round("acf", 4).alias("acf"),
            F.round("pacf", 4).alias("pacf"),
        )
        .orderBy("event_type", "lag")
    )


@register(
    "stats_durbin_watson",
    doc="Durbin-Watson autocorrelated-residuals diagnostic on the "
    "per-type daily-count OLS trend: closed-form a/b from one moment "
    "rollup (the stats_ols_trend pairing, snapped to 10 places so "
    "both engines residualize identically), then DW = sum (e_t - "
    "e_{t-1})^2 / sum e_t^2 over the day-ordered residuals (one lag "
    "window per type). DW ~ 2(1 - acf1): read beside ljung_box/pacf.",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*)::DOUBLE AS y
  FROM events GROUP BY event_type, day
),
s AS (
  SELECT event_type, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS t
  FROM d
),
fit AS (
  SELECT event_type,
         ROUND(covar_pop(t, y) / var_pop(t), 10) AS b,
         ROUND(AVG(y) - ROUND(covar_pop(t, y) / var_pop(t), 10) * AVG(t), 10) AS a
  FROM s GROUP BY event_type
),
e AS (
  SELECT s.event_type, s.t,
         s.y - (fit.a + fit.b * s.t) AS e
  FROM s JOIN fit ON fit.event_type = s.event_type
),
l AS (
  SELECT event_type, e,
         lag(e) OVER (PARTITION BY event_type ORDER BY t) AS pe
  FROM e
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(SUM(CASE WHEN pe IS NOT NULL THEN (e - pe) * (e - pe) ELSE 0 END)
             / SUM(e * e), {R}) AS durbin_watson
FROM l GROUP BY event_type
ORDER BY event_type
""",
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    s = d.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("double")
        .alias("t"),
    )
    b = F.round(F.covar_pop("t", "y") / F.var_pop("t"), 10)
    fit = s.groupBy("event_type").agg(
        b.alias("b"), F.round(F.avg("y") - b * F.avg("t"), 10).alias("a")
    )
    e = s.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "t",
        (F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias("e"),
    )
    l = e.select(
        "event_type",
        "e",
        F.lag("e").over(Window.partitionBy("event_type").orderBy("t")).alias("pe"),
    )
    return (
        l.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum(
                    F.when(
                        F.col("pe").isNotNull(),
                        (F.col("e") - F.col("pe")) * (F.col("e") - F.col("pe")),
                    ).otherwise(0.0)
                )
                / F.sum(F.col("e") * F.col("e")),
                R,
            ).alias("durbin_watson"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_ab_srm_check",
    doc="sample-ratio-mismatch guardrail: chi-square of observed arm "
    "sizes (odd/even user_id unit split, counted over UNITS not "
    "events) against the designed 50/50, with the standard p < 0.001 "
    "SRM alarm convention evaluated via the round-6 A&S erfc "
    "p-value (dof 1: chi2 = z^2, p = erfc(sqrt(chi2/2))). The FIRST "
    "check an experiment readout runs -- a mismatched split "
    "invalidates every downstream z/t/CUPED number.",
    oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
a AS (
  SELECT SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1,
         SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0
  FROM u
),
c AS (
  SELECT n1, n0,
         pow(n1 - (n1 + n0) / 2, 2) / ((n1 + n0) / 2)
         + pow(n0 - (n1 + n0) / 2, 2) / ((n1 + n0) / 2) AS chi2
  FROM a
)
SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_ctrl,
       ROUND(chi2, 6) AS srm_chi2,
       ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0)))", x="sqrt(chi2 / 2.0)")}, 6) AS p_value,
       ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0)))", x="sqrt(chi2 / 2.0)")}, 6) < 0.001 AS srm_alarm
FROM c
""",
)
def stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.select("user_id").distinct()
    a = u.agg(
        F.sum((F.col("user_id") % 2 == 1).cast("int")).cast("double").alias("n1"),
        F.sum((F.col("user_id") % 2 == 0).cast("int")).cast("double").alias("n0"),
    )
    e = (F.col("n1") + F.col("n0")) / 2
    c = a.select(
        "n1",
        "n0",
        (
            F.pow(F.col("n1") - e, 2) / e + F.pow(F.col("n0") - e, 2) / e
        ).alias("chi2"),
    )
    erfc = _AS_ERFC.format(
        t="(1.0 / (1.0 + 0.3275911 * sqrt(chi2 / 2.0)))", x="sqrt(chi2 / 2.0)"
    )
    return c.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        F.round("chi2", 6).alias("srm_chi2"),
        F.round(F.expr(erfc), 6).alias("p_value"),
        (F.round(F.expr(erfc), 6) < 0.001).alias("srm_alarm"),
    )


@register(
    "stats_chow_break_test",
    doc="Chow structural-break test per event_type at the known "
    "mid-month intervention (day 16): daily-count OLS fit pooled vs "
    "separate pre/post segments, F = ((SSR_p - SSR_1 - SSR_2)/2) / "
    "((SSR_1 + SSR_2)/(n - 4)); level and slope deltas reported "
    "alongside -- the interrupted-time-series readout. SSRs come "
    "from the covar/var closed form per segment (snapped fits, the "
    "durbin_watson pairing): SSR = n(var_y - b^2 var_t).",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*)::DOUBLE AS y,
         CASE WHEN EXTRACT(day FROM ts) >= 16 THEN 1 ELSE 0 END AS seg
  FROM events GROUP BY event_type, day, seg
),
s AS (
  SELECT event_type, seg, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS t
  FROM d
),
fit AS (
  SELECT event_type, seg, COUNT(*)::DOUBLE AS n,
         ROUND(covar_pop(t, y) / var_pop(t), 10) AS b,
         var_pop(y) AS vy, var_pop(t) AS vt,
         AVG(y) AS my, AVG(t) AS mt
  FROM s GROUP BY event_type, seg
),
pool AS (
  SELECT event_type, COUNT(*)::DOUBLE AS n,
         ROUND(covar_pop(t, y) / var_pop(t), 10) AS b,
         var_pop(y) AS vy, var_pop(t) AS vt
  FROM s GROUP BY event_type
),
ssr AS (
  SELECT f.event_type,
         SUM(f.n * (f.vy - f.b * f.b * f.vt)) AS ssr_seg,
         MAX(p.n * (p.vy - p.b * p.b * p.vt)) AS ssr_pool,
         MAX(p.n) AS n,
         MAX(CASE WHEN f.seg = 1 THEN f.my END) - MAX(CASE WHEN f.seg = 0 THEN f.my END) AS level_delta,
         MAX(CASE WHEN f.seg = 1 THEN f.b END) - MAX(CASE WHEN f.seg = 0 THEN f.b END) AS slope_delta
  FROM fit f JOIN pool p ON p.event_type = f.event_type
  GROUP BY f.event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       ROUND(level_delta, 4) AS level_delta,
       ROUND(slope_delta, 6) AS slope_delta,
       ROUND(((ssr_pool - ssr_seg) / 2) / (ssr_seg / (n - 4)), {R}) AS chow_f
FROM ssr ORDER BY event_type
""",
)
def stats_chow_break_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        (F.dayofmonth("ts") >= 16).cast("int").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    s = d.select(
        "event_type",
        "seg",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("double")
        .alias("t"),
    )
    b = F.round(F.covar_pop("t", "y") / F.var_pop("t"), 10)
    fit = s.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        b.alias("b"),
        F.var_pop("y").alias("vy"),
        F.var_pop("t").alias("vt"),
        F.avg("y").alias("my"),
    )
    pool = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("pn"),
        b.alias("pb"),
        F.var_pop("y").alias("pvy"),
        F.var_pop("t").alias("pvt"),
    )
    ssr = (
        fit.join(pool, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("n") * (F.col("vy") - F.col("b") * F.col("b") * F.col("vt"))
            ).alias("ssr_seg"),
            F.max(
                F.col("pn") * (F.col("pvy") - F.col("pb") * F.col("pb") * F.col("pvt"))
            ).alias("ssr_pool"),
            F.max("pn").alias("n"),
            (
                F.max(F.when(F.col("seg") == 1, F.col("my")))
                - F.max(F.when(F.col("seg") == 0, F.col("my")))
            ).alias("level_delta"),
            (
                F.max(F.when(F.col("seg") == 1, F.col("b")))
                - F.max(F.when(F.col("seg") == 0, F.col("b")))
            ).alias("slope_delta"),
        )
    )
    return ssr.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round("level_delta", 4).alias("level_delta"),
        F.round("slope_delta", 6).alias("slope_delta"),
        F.round(
            ((F.col("ssr_pool") - F.col("ssr_seg")) / 2)
            / (F.col("ssr_seg") / (F.col("n") - 4)),
            R,
        ).alias("chow_f"),
    ).orderBy("event_type")


@register(
    "stats_granger_lite",
    doc="Granger-style lead-lag screen over event-type pairs: does "
    "x's daily count at t-1 improve an AR(1) model of y? Restricted "
    "(y ~ y_{{t-1}}) vs unrestricted (y ~ y_{{t-1}} + x_{{t-1}}) OLS "
    "in exact closed form (2x2 normal equations by determinant), "
    "F = (SSR_r - SSR_u) / (SSR_u / (n - 3)). All 20 ordered pairs "
    "from ONE day-matrix rollup + a tiny pair cross join; inputs "
    "snapped to 6 places so both engines solve identical systems.",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*)::DOUBLE AS n
  FROM events GROUP BY event_type, day
),
l AS (
  SELECT event_type, day, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS n1
  FROM d
),
pairs AS (
  SELECT y.event_type AS y_type, x.event_type AS x_type,
         y.n AS y, ROUND(y.n1, 6) AS yl, ROUND(x.n1, 6) AS xl
  FROM l y JOIN l x ON x.day = y.day AND x.event_type <> y.event_type
  WHERE y.n1 IS NOT NULL AND x.n1 IS NOT NULL
),
m AS (
  SELECT y_type, x_type, COUNT(*)::DOUBLE AS n,
         AVG(y) AS my, AVG(yl) AS ma, AVG(xl) AS mb,
         covar_pop(yl, y) AS say, covar_pop(xl, y) AS sby,
         var_pop(yl) AS saa, var_pop(xl) AS sbb, covar_pop(yl, xl) AS sab,
         var_pop(y) AS syy
  FROM pairs GROUP BY y_type, x_type
),
f AS (
  SELECT y_type, x_type, n,
         n * (syy - say * say / saa) AS ssr_r,
         n * (syy - (say * (sbb * say - sab * sby)
                     + sby * (saa * sby - sab * say))
                    / (saa * sbb - sab * sab)) AS ssr_u
  FROM m
)
SELECT y_type, x_type, CAST(n AS BIGINT) AS n_days,
       ROUND((ssr_r - ssr_u) / (ssr_u / (n - 3)), {R}) AS granger_f
FROM f ORDER BY y_type, x_type
""",
)
def stats_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    l = d.select(
        "event_type",
        "day",
        "n",
        F.lag("n").over(Window.partitionBy("event_type").orderBy("day")).alias("n1"),
    )
    y = l.select(
        F.col("event_type").alias("y_type"),
        "day",
        F.col("n").alias("y"),
        F.round("n1", 6).alias("yl"),
    ).filter(F.col("yl").isNotNull())
    x = l.select(
        F.col("event_type").alias("x_type"),
        F.col("day").alias("dayx"),
        F.round("n1", 6).alias("xl"),
    ).filter(F.col("xl").isNotNull())
    pairs = y.join(
        x, (F.col("day") == F.col("dayx")) & (F.col("x_type") != F.col("y_type"))
    )
    m = pairs.groupBy("y_type", "x_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.covar_pop("yl", "y").alias("say"),
        F.covar_pop("xl", "y").alias("sby"),
        F.var_pop("yl").alias("saa"),
        F.var_pop("xl").alias("sbb"),
        F.covar_pop("yl", "xl").alias("sab"),
        F.var_pop("y").alias("syy"),
    )
    det = F.col("saa") * F.col("sbb") - F.col("sab") * F.col("sab")
    ssr_r = F.col("n") * (F.col("syy") - F.col("say") * F.col("say") / F.col("saa"))
    ssr_u = F.col("n") * (
        F.col("syy")
        - (
            F.col("say") * (F.col("sbb") * F.col("say") - F.col("sab") * F.col("sby"))
            + F.col("sby") * (F.col("saa") * F.col("sby") - F.col("sab") * F.col("say"))
        )
        / det
    )
    return m.select(
        "y_type",
        "x_type",
        F.col("n").cast("long").alias("n_days"),
        F.round((ssr_r - ssr_u) / (ssr_u / (F.col("n") - 3)), R).alias("granger_f"),
    ).orderBy("y_type", "x_type")


def _perm_test_oracle(reps: int = 64) -> str:
    from testlog_etl_spark.oracles import xxh64_sql

    h = xxh64_sql("user_id::VARCHAR || ':p' || b::VARCHAR")
    return f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm, AVG("value") AS m
  FROM events GROUP BY user_id, arm
),
obs AS (
  SELECT AVG(CASE WHEN arm = 1 THEN m END)
         - AVG(CASE WHEN arm = 0 THEN m END) AS d
  FROM u
),
p AS (
  SELECT t.b AS b,
         CASE WHEN (({h}) % 2 + 2) % 2 = 1 THEN 1 ELSE 0 END AS parm,
         u.m
  FROM u CROSS JOIN range({reps}) t(b)
),
rep AS (
  SELECT b,
         AVG(CASE WHEN parm = 1 THEN m END)
         - AVG(CASE WHEN parm = 0 THEN m END) AS d
  FROM p GROUP BY b
)
SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_units,
       ROUND(obs.d, 6) AS observed_diff,
       CAST({reps} AS INT) AS n_permutations,
       CAST((SELECT SUM(CASE WHEN abs(rep.d) >= abs(obs.d) THEN 1 ELSE 0 END) FROM rep) AS BIGINT) AS n_as_extreme,
       ROUND((SELECT SUM(CASE WHEN abs(rep.d) >= abs(obs.d) THEN 1 ELSE 0 END) FROM rep) * 1.0 / {reps}, 4) AS p_value
FROM obs
"""


@register(
    "stats_permutation_test",
    doc="deterministic permutation test on the per-user mean value "
    "(odd/even arms): 64 hash-seeded label reshuffles (xxh64(user, "
    "replicate) parity -- replayable, the Poisson-bootstrap trick "
    "applied to permutation inference), two-sided p = share of "
    "permuted |mean diffs| at least as extreme as observed. The "
    "assumption-free companion to welch/CUPED: ONE unit rollup, one "
    "64x label explode that collapses map-side (the bootstrap's "
    "shuffle shape).",
    oracle=_perm_test_oracle(),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = 64
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id", (F.col("user_id") % 2).alias("arm")).agg(
        F.avg("value").alias("m")
    )
    obs = u.agg(
        (
            F.avg(F.when(F.col("arm") == 1, F.col("m")))
            - F.avg(F.when(F.col("arm") == 0, F.col("m")))
        ).alias("d")
    )
    b = spark.range(reps).select(F.col("id").cast("int").alias("b"))
    p = u.crossJoin(F.broadcast(b)).select(
        "m",
        "b",
        F.pmod(
            F.xxhash64(
                F.concat(F.col("user_id").cast("string"), F.lit(":p"), F.col("b").cast("string"))
            ),
            F.lit(2),
        ).alias("parm"),
    )
    rep = p.groupBy("b").agg(
        (
            F.avg(F.when(F.col("parm") == 1, F.col("m")))
            - F.avg(F.when(F.col("parm") == 0, F.col("m")))
        ).alias("d")
    )
    n_units = u.agg(F.count(F.lit(1)).alias("n"))
    extreme = (
        rep.crossJoin(F.broadcast(obs.select(F.col("d").alias("od"))))
        .agg(
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("od"))).cast("int")
            ).alias("ne")
        )
    )
    return (
        obs.crossJoin(F.broadcast(n_units))
        .crossJoin(F.broadcast(extreme))
        .select(
            F.col("n").cast("long").alias("n_units"),
            F.round("d", 6).alias("observed_diff"),
            F.lit(reps).cast("int").alias("n_permutations"),
            F.col("ne").cast("long").alias("n_as_extreme"),
            F.round(F.col("ne") * 1.0 / reps, 4).alias("p_value"),
        )
    )


@register(
    "stats_fisher_combined",
    doc="Fisher's combined-probability meta-analysis over the per-"
    "event_type Welch z family (the stats_benjamini_hochberg "
    "p-values, same erfc idiom): X = -2 sum ln(p) ~ chi2(2k) -- one "
    "global 'is anything moving' number complementing BH's per-test "
    "decisions; its own p via the dof-2k chi-square survival "
    "restated through the normal approximation "
    "(Wilson-Hilferty cube-root), identical expression both engines.",
    oracle=f"""
WITH arms AS (
  SELECT event_type, user_id % 2 AS arm,
         COUNT(*)::DOUBLE AS n, AVG("value") AS m, var_samp("value") AS v
  FROM events GROUP BY event_type, arm
),
z AS (
  SELECT a1.event_type,
         (a1.m - a0.m) / sqrt(a1.v / a1.n + a0.v / a0.n) AS z
  FROM arms a1 JOIN arms a0
    ON a0.event_type = a1.event_type AND a1.arm = 1 AND a0.arm = 0
),
p AS (
  SELECT event_type,
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)")}, 6) AS pv
  FROM z
),
x AS (
  SELECT COUNT(*)::DOUBLE AS k, -2.0 * SUM(ln(pv)) AS fisher_x FROM p
),
wh AS (
  SELECT k, fisher_x,
         (pow(fisher_x / (2 * k), 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * 2 * k)))
           / sqrt(2.0 / (9.0 * 2 * k)) AS z_wh
  FROM x
)
SELECT CAST(k AS BIGINT) AS k_tests,
       ROUND(fisher_x, 4) AS fisher_x,
       CAST(2 * k AS BIGINT) AS dof,
       ROUND(z_wh, 4) AS z_wilson_hilferty,
       ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (greatest(z_wh, 0.0) / sqrt(2.0))))", x="greatest(z_wh, 0.0) / sqrt(2.0)")} / 2.0, 6) AS p_combined
FROM wh
""",
)
def stats_fisher_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    arms = ev.groupBy("event_type", (F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        "event_type", F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        "event_type", F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
    )
    z = a1.join(a0, "event_type").select(
        "event_type",
        (
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
        ).alias("z"),
    )
    erfc_p = _AS_ERFC.format(
        t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)"
    )
    p = z.select("event_type", F.round(F.expr(erfc_p), 6).alias("pv"))
    x = p.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        (-2.0 * F.sum(F.log("pv"))).alias("fisher_x"),
    )
    dof2 = 2 * F.col("k")
    z_wh = (
        F.pow(F.col("fisher_x") / dof2, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * dof2))
    ) / F.sqrt(2.0 / (9.0 * dof2))
    wh = x.select("k", "fisher_x", z_wh.alias("z_wh"))
    erfc_c = _AS_ERFC.format(
        t="(1.0 / (1.0 + 0.3275911 * (greatest(z_wh, 0.0) / sqrt(2.0))))",
        x="greatest(z_wh, 0.0) / sqrt(2.0)",
    )
    return wh.select(
        F.col("k").cast("long").alias("k_tests"),
        F.round("fisher_x", 4).alias("fisher_x"),
        (2 * F.col("k")).cast("long").alias("dof"),
        F.round("z_wh", 4).alias("z_wilson_hilferty"),
        F.round(F.expr(erfc_c) / 2.0, 6).alias("p_combined"),
    )


@register(
    "stats_bland_altman",
    doc="Bland-Altman method-agreement analysis between the exact "
    "whitespace token count and the chars/6 ESTIMATOR (the "
    "budget-from-byte-length shortcut pipelines use before "
    "tokenizing): mean difference (bias), 1.96-sd limits of "
    "agreement, and the share of documents inside the limits -- the "
    "do-these-two-measurements-agree readout correlation alone can't "
    "answer. One scan + one moment rollup; the within-limits share "
    "is a second conditional pass over the same lineage.",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split(trim(text), ' '), t -> t <> ''))::DOUBLE AS a,
         length(text) / 6.0 AS b
  FROM documents
),
d AS (SELECT doc_id, a - b AS diff FROM m),
s AS (
  SELECT AVG(diff) AS bias, stddev_samp(diff) AS sd, COUNT(*)::DOUBLE AS n
  FROM d
)
SELECT CAST(s.n AS BIGINT) AS n_docs,
       ROUND(s.bias, 4) AS bias,
       ROUND(s.bias - 1.96 * s.sd, 4) AS loa_low,
       ROUND(s.bias + 1.96 * s.sd, 4) AS loa_high,
       ROUND(SUM(CASE WHEN d.diff >= s.bias - 1.96 * s.sd
                       AND d.diff <= s.bias + 1.96 * s.sd THEN 1 ELSE 0 END) / s.n, 4) AS within_loa_share
FROM d CROSS JOIN s
GROUP BY s.n, s.bias, s.sd
""",
)
def stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators import textstats

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    m = docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).cast("double").alias("a"),
        (F.length("text") / 6.0).alias("b"),
    )
    d = m.select((F.col("a") - F.col("b")).alias("diff"))
    s = d.agg(
        F.avg("diff").alias("bias"),
        F.stddev_samp("diff").alias("sd"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    j = d.crossJoin(F.broadcast(s))
    lo = F.col("bias") - 1.96 * F.col("sd")
    hi = F.col("bias") + 1.96 * F.col("sd")
    return j.groupBy("n", "bias", "sd").agg(
        F.sum(
            ((F.col("diff") >= lo) & (F.col("diff") <= hi)).cast("int")
        ).alias("_in")
    ).select(
        F.col("n").cast("long").alias("n_docs"),
        F.round("bias", 4).alias("bias"),
        F.round(lo, 4).alias("loa_low"),
        F.round(hi, 4).alias("loa_high"),
        F.round(F.col("_in") / F.col("n"), 4).alias("within_loa_share"),
    )


@register(
    "stats_equivalence_tost",
    doc="TOST equivalence test per event_type (odd/even user arms on "
    "per-user mean value): two one-sided z-tests against the "
    "+-0.05-of-control-mean margin; equivalence is CLAIMED iff both "
    "one-sided ps < 0.05 (p_tost = max of the pair, erfc idiom). The "
    "complement to difference testing -- 'no effect' needs its own "
    "test, a big p on Welch is not evidence of equivalence.",
    oracle=f"""
WITH u AS (
  SELECT event_type, user_id, user_id % 2 AS arm, AVG("value") AS m
  FROM events GROUP BY event_type, user_id, arm
),
g AS (
  SELECT event_type,
         COUNT(*) FILTER (arm = 1)::DOUBLE AS n1,
         COUNT(*) FILTER (arm = 0)::DOUBLE AS n0,
         AVG(m) FILTER (arm = 1) AS m1,
         AVG(m) FILTER (arm = 0) AS m0,
         var_samp(m) FILTER (arm = 1) AS v1,
         var_samp(m) FILTER (arm = 0) AS v0
  FROM u GROUP BY event_type
),
t AS (
  SELECT event_type, m1 - m0 AS diff, 0.05 * m0 AS margin,
         sqrt(v1 / n1 + v0 / n0) AS se
  FROM g
),
z AS (
  SELECT event_type, diff, margin,
         (diff + margin) / se AS z_low,
         (margin - diff) / se AS z_hi
  FROM t
)
SELECT event_type,
       ROUND(diff, 4) AS diff,
       ROUND(margin, 4) AS margin,
       ROUND(GREATEST(
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (greatest(z_low, 0.0) / sqrt(2.0))))", x="greatest(z_low, 0.0) / sqrt(2.0)")} / 2.0, 6),
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (greatest(z_hi, 0.0) / sqrt(2.0))))", x="greatest(z_hi, 0.0) / sqrt(2.0)")} / 2.0, 6)), 6) AS p_tost,
       GREATEST(
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (greatest(z_low, 0.0) / sqrt(2.0))))", x="greatest(z_low, 0.0) / sqrt(2.0)")} / 2.0, 6),
         ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (greatest(z_hi, 0.0) / sqrt(2.0))))", x="greatest(z_hi, 0.0) / sqrt(2.0)")} / 2.0, 6)) < 0.05 AS equivalent
FROM z ORDER BY event_type
""",
)
def stats_equivalence_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(F.avg("value").alias("m"))
    g = u.groupBy("event_type").agg(
        F.sum((F.col("arm") == 1).cast("int")).cast("double").alias("n1"),
        F.sum((F.col("arm") == 0).cast("int")).cast("double").alias("n0"),
        F.avg(F.when(F.col("arm") == 1, F.col("m"))).alias("m1"),
        F.avg(F.when(F.col("arm") == 0, F.col("m"))).alias("m0"),
        F.var_samp(F.when(F.col("arm") == 1, F.col("m"))).alias("v1"),
        F.var_samp(F.when(F.col("arm") == 0, F.col("m"))).alias("v0"),
    )
    t = g.select(
        "event_type",
        (F.col("m1") - F.col("m0")).alias("diff"),
        (0.05 * F.col("m0")).alias("margin"),
        F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")).alias("se"),
    )
    z = t.select(
        "event_type",
        "diff",
        "margin",
        ((F.col("diff") + F.col("margin")) / F.col("se")).alias("z_low"),
        ((F.col("margin") - F.col("diff")) / F.col("se")).alias("z_hi"),
    )
    def onesided(zc: str):
        e = _AS_ERFC.format(
            t=f"(1.0 / (1.0 + 0.3275911 * (greatest({zc}, 0.0) / sqrt(2.0))))",
            x=f"greatest({zc}, 0.0) / sqrt(2.0)",
        )
        return F.round(F.expr(e) / 2.0, 6)
    p_tost = F.greatest(onesided("z_low"), onesided("z_hi"))
    return z.select(
        "event_type",
        F.round("diff", 4).alias("diff"),
        F.round("margin", 4).alias("margin"),
        F.round(p_tost, 6).alias("p_tost"),
        (p_tost < 0.05).alias("equivalent"),
    ).orderBy("event_type")


@register(
    "stats_cohens_h",
    doc="Cohen's h effect size for the conversion-rate difference "
    "(odd/even arms, purchase share): h = 2 asin(sqrt(p1)) - "
    "2 asin(sqrt(p0)) -- the arcsine-stabilized magnitude that "
    "complements the two-proportion z (which only says 'unlikely "
    "under H0', not 'big'). asin/sqrt are correctly-rounded IEEE "
    "ops, identical on both engines; one conditional rollup.",
    oracle="""
WITH arms AS (
  SELECT user_id % 2 AS arm,
         COUNT(*)::DOUBLE AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE AS k
  FROM events GROUP BY arm
)
SELECT ROUND(a1.k / a1.n, 6) AS rate_treat,
       ROUND(a0.k / a0.n, 6) AS rate_ctrl,
       ROUND(2 * asin(sqrt(a1.k / a1.n)) - 2 * asin(sqrt(a0.k / a0.n)), 6) AS cohens_h,
       CASE WHEN abs(2 * asin(sqrt(a1.k / a1.n)) - 2 * asin(sqrt(a0.k / a0.n))) < 0.2 THEN 'negligible'
            WHEN abs(2 * asin(sqrt(a1.k / a1.n)) - 2 * asin(sqrt(a0.k / a0.n))) < 0.5 THEN 'small'
            WHEN abs(2 * asin(sqrt(a1.k / a1.n)) - 2 * asin(sqrt(a0.k / a0.n))) < 0.8 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM arms a1 JOIN arms a0 ON a1.arm = 1 AND a0.arm = 0
""",
)
def stats_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("k"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        (F.col("k") / F.col("n")).alias("p1")
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        (F.col("k") / F.col("n")).alias("p0")
    )
    j = a1.crossJoin(F.broadcast(a0))
    h = 2 * F.asin(F.sqrt("p1")) - 2 * F.asin(F.sqrt("p0"))
    return j.select(
        F.round("p1", 6).alias("rate_treat"),
        F.round("p0", 6).alias("rate_ctrl"),
        F.round(h, 6).alias("cohens_h"),
        F.when(F.abs(h) < 0.2, "negligible")
        .when(F.abs(h) < 0.5, "small")
        .when(F.abs(h) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@register(
    "events_retention_halflife",
    doc="retention half-life: week-over-week return rates (share of "
    "week-w actives also active in week w+1..w+3, averaged per "
    "horizon) fitted to exponential decay by ln-linear closed-form "
    "OLS over the 3 horizon points -- half-life = ln 2 / lambda in "
    "weeks, the one-number engagement durability readout on top of "
    "the cohort matrix. Distinct (user, week) rollup + 3 horizon "
    "joins, then arithmetic on 3 rows.",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
h AS (
  SELECT k.h, COUNT(*)::DOUBLE AS base,
         SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE AS retained
  FROM uw a CROSS JOIN (SELECT unnest(range(1, 4)) AS h) k
  LEFT JOIN uw r ON r.user_id = a.user_id
        AND r.week = CAST(a.week + INTERVAL (7 * k.h) DAY AS DATE)
  WHERE EXISTS (SELECT 1 FROM uw w2 WHERE w2.week = CAST(a.week + INTERVAL (7 * k.h) DAY AS DATE))
  GROUP BY k.h
),
pts AS (
  SELECT h::DOUBLE AS x, ln(retained / base) AS y FROM h WHERE retained > 0
),
fit AS (
  SELECT COUNT(*)::BIGINT AS n_points,
         CASE WHEN var_pop(x) > 0 THEN covar_pop(x, y) / var_pop(x) END AS slope
  FROM pts
)
SELECT n_points,
       ROUND(-slope, 6) AS lambda_per_week,
       ROUND(CASE WHEN slope < 0 THEN ln(2.0) / (-slope) END, 4) AS halflife_weeks
FROM fit
""",
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    weeks = uw.select("week").distinct()
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("h"))
    a = uw.crossJoin(F.broadcast(ks)).withColumn(
        "target_week", F.date_add("week", 7 * F.col("h"))
    )
    # only (week, horizon) pairs whose target week exists in the data
    a = a.join(
        weeks.select(F.col("week").alias("target_week")), "target_week", "left_semi"
    )
    r = uw.select(
        F.col("user_id").alias("ru"), F.col("week").alias("target_week")
    )
    h = (
        a.join(
            r,
            (F.col("user_id") == F.col("ru"))
            & (a.target_week == r.target_week),
            "left",
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("double").alias("base"),
            F.sum(F.col("ru").isNotNull().cast("int")).cast("double").alias("retained"),
        )
    )
    pts = h.filter(F.col("retained") > 0).select(
        F.col("h").cast("double").alias("x"),
        F.log(F.col("retained") / F.col("base")).alias("y"),
    )
    # degenerate single-point fits (tiny SFs) yield var_pop = 0: emit
    # NULL instead of an ANSI divide-by-zero
    fit = pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.when(
            F.var_pop("x") > 0, F.covar_pop("x", "y") / F.var_pop("x")
        ).alias("slope"),
    )
    return fit.select(
        F.col("n_points").cast("long").alias("n_points"),
        F.round(-F.col("slope"), 6).alias("lambda_per_week"),
        # half-life only meaningful for DECAYING retention (slope < 0)
        F.round(
            F.when(F.col("slope") < 0, F.log(F.lit(2.0)) / (-F.col("slope"))), 4
        ).alias("halflife_weeks"),
    )


@register(
    "stats_anderson_darling",
    doc="Anderson-Darling normality test per event_type on the daily "
    "value-sum series: A2 = -n - mean over i of (2i-1)(ln F(z_i) + "
    "ln(1 - F(z_{n+1-i}))) with F the standard normal CDF via the "
    "shared A&S erfc (identical expression trees; z standardized by "
    "the round-10 sample moments). The tail-sensitive normality "
    "screen the z/t machinery implicitly assumes; i and its mirror "
    "come from one partitioned rank + a self-join on the mirrored "
    "index -- calendar-bounded frames.",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         ROUND(SUM("value"), 6) AS x
  FROM events GROUP BY event_type, day
),
m AS (
  SELECT event_type, ROUND(AVG(x), 10) AS mu, ROUND(stddev_samp(x), 10) AS sd,
         COUNT(*)::DOUBLE AS n
  FROM d GROUP BY event_type
),
s AS (
  SELECT d.event_type, (d.x - m.mu) / m.sd AS z,
         ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.x, d.day) AS i,
         m.n
  FROM d JOIN m ON m.event_type = d.event_type
),
f AS (
  SELECT event_type, i, n, z,
         CASE WHEN z >= 0
              THEN 1.0 - ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)")}, 10) / 2.0
              ELSE ROUND({_AS_ERFC.format(t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)")}, 10) / 2.0
         END AS cdf
  FROM s
),
j AS (
  SELECT a.event_type, a.i, a.n,
         (2 * a.i - 1) * (ln(a.cdf) + ln(1.0 - b.cdf)) AS term
  FROM f a JOIN f b ON b.event_type = a.event_type AND b.i = a.n - a.i + 1
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_days,
       ROUND(-MAX(n) - SUM(term) / MAX(n), 4) AS a_squared
FROM j GROUP BY event_type
ORDER BY event_type
""",
)
def stats_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    m = d.groupBy("event_type").agg(
        F.round(F.avg("x"), 10).alias("mu"),
        F.round(F.stddev_samp("x"), 10).alias("sd"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    s = d.join(F.broadcast(m), "event_type").select(
        "event_type",
        ((F.col("x") - F.col("mu")) / F.col("sd")).alias("z"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("x", "day"))
        .alias("i"),
        "n",
    )
    erfc = _AS_ERFC.format(
        t="(1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))", x="abs(z) / sqrt(2.0)"
    )
    half = F.round(F.expr(erfc), 10) / 2.0
    f = s.select(
        "event_type",
        "i",
        "n",
        F.when(F.col("z") >= 0, 1.0 - half).otherwise(half).alias("cdf"),
    )
    a = f.select("event_type", "i", "n", F.col("cdf").alias("ca"))
    b = f.select(
        F.col("event_type").alias("et2"), F.col("i").alias("i2"), F.col("cdf").alias("cb")
    )
    j = a.join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("i2") == F.col("n") - F.col("i") + 1),
    ).select(
        "event_type",
        "n",
        ((2 * F.col("i") - 1) * (F.log("ca") + F.log(1.0 - F.col("cb")))).alias("term"),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.round(-F.max("n") - F.sum("term") / F.max("n"), 4).alias("a_squared"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_hodges_lehmann",
    doc="Hodges-Lehmann location estimator per event_type: the median "
    "of all pairwise Walsh averages (x_i + x_j)/2, i <= j, over the "
    "daily value-sum series -- the rank-based robust center that "
    "pairs with Theil-Sen (slopes) and the signed-rank test family; "
    "reported beside the plain mean/median for the robustness gap. "
    "The pair join is CALENDAR-bounded (~30 days per type); the "
    "median is the certified percentile pairing.",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         ROUND(SUM("value"), 6) AS x
  FROM events GROUP BY event_type, day
),
s AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM d
),
w AS (
  SELECT a.event_type, (a.x + b.x) / 2 AS walsh
  FROM s a JOIN s b ON b.event_type = a.event_type AND b.i >= a.i
)
SELECT w.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_walsh,
       ROUND(quantile_cont(w.walsh, 0.5), 4) AS hodges_lehmann,
       ROUND((SELECT AVG(x) FROM d WHERE d.event_type = w.event_type), 4) AS mean,
       ROUND((SELECT quantile_cont(x, 0.5) FROM d WHERE d.event_type = w.event_type), 4) AS median
FROM w GROUP BY w.event_type
ORDER BY event_type
""",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    s = d.select(
        "event_type",
        "x",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    a = s.select(
        F.col("event_type").alias("et"), F.col("x").alias("xa"), F.col("i").alias("ia")
    )
    b = s.select(
        F.col("event_type").alias("et"), F.col("x").alias("xb"), F.col("i").alias("ib")
    )
    w = (
        a.join(b, "et")
        .filter(F.col("ib") >= F.col("ia"))
        .select(F.col("et").alias("event_type"), ((F.col("xa") + F.col("xb")) / 2).alias("walsh"))
    )
    base = d.groupBy("event_type").agg(
        F.round(F.avg("x"), 4).alias("mean"),
        F.round(F.expr("percentile(x, 0.5)"), 4).alias("median"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_walsh"),
            F.round(F.expr("percentile(walsh, 0.5)"), 4).alias("hodges_lehmann"),
        )
        .join(F.broadcast(base), "event_type")
        .select("event_type", "n_walsh", "hodges_lehmann", "mean", "median")
        .orderBy("event_type")
    )


@register(
    "stats_wilcoxon_signed_rank",
    doc="Wilcoxon signed-rank test on the PAIRED per-user activity "
    "change (first- vs second-half event counts): zero diffs dropped "
    "(the standard convention), |diff| tie-averaged ranks from the "
    "per-VALUE rollup (the mann_whitney construction), W+ = rank sum "
    "over positive diffs, tie-corrected normal z. The paired-design "
    "rank test beside McNemar (binary) and the t (parametric): one "
    "user rollup + one distinct-|diff| cumsum.",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         SUM(CASE WHEN EXTRACT(day FROM ts) >= 16 THEN 1 ELSE 0 END)::DOUBLE
         - SUM(CASE WHEN EXTRACT(day FROM ts) < 16 THEN 1 ELSE 0 END)::DOUBLE AS d
  FROM events GROUP BY user_id
),
nz AS (SELECT d, abs(d) AS ad FROM u WHERE d <> 0),
pv AS (
  SELECT ad, SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS cpos,
         COUNT(*)::BIGINT AS ct
  FROM nz GROUP BY ad
),
cum AS (
  SELECT ad, cpos, ct,
         SUM(ct) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) - ct AS below
  FROM pv
),
agg AS (
  SELECT SUM(ct)::DOUBLE AS n,
         SUM(cpos * (below + (ct + 1) / 2.0)) AS wplus,
         SUM(ct * ct * ct - ct)::DOUBLE AS ties
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n_nonzero,
       ROUND(wplus, 2) AS w_plus,
       ROUND((wplus - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0), {R}) AS z
FROM agg
""",
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        (
            F.sum((F.dayofmonth("ts") >= 16).cast("int")).cast("double")
            - F.sum((F.dayofmonth("ts") < 16).cast("int")).cast("double")
        ).alias("d")
    )
    nz = u.filter(F.col("d") != 0).select("d", F.abs("d").alias("ad"))
    pv = nz.groupBy("ad").agg(
        F.sum((F.col("d") > 0).cast("int")).alias("cpos"),
        F.count(F.lit(1)).alias("ct"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    # |diff| takes integer event-count values -- a bounded domain (the
    # calendar caps per-user counts), so the distinct-value cumsum frame
    # is small; at true scale route through the hierarchical scan
    cum = pv.withColumn("below", F.sum("ct").over(w) - F.col("ct"))
    agg = cum.agg(
        F.sum("ct").cast("double").alias("n"),
        F.sum(F.col("cpos") * (F.col("below") + (F.col("ct") + 1) / 2.0)).alias("wplus"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("double")
        .alias("ties"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("long").alias("n_nonzero"),
        F.round("wplus", 2).alias("w_plus"),
        F.round(
            (F.col("wplus") - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - F.col("ties") / 48.0),
            R,
        ).alias("z"),
    )


@register(
    "stats_friedman_test",
    doc="Friedman repeated-measures rank test: within every day "
    "(block), the 5 event types (treatments) are tie-average-ranked "
    "by daily count; chi2_F = 12/(n k (k+1)) sum R_j^2 - 3 n (k+1) "
    "over complete blocks -- 'do the types keep the same ordering "
    "day after day' without normality assumptions (the blocked "
    "complement to anova/kruskal). Ranks come from per-day windows "
    "over the 5-row type frame; everything after is closed form.",
    oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(*)::DOUBLE AS n
  FROM events GROUP BY day, event_type
),
k AS (SELECT COUNT(DISTINCT event_type) AS k FROM d),
complete AS (
  SELECT day FROM d GROUP BY day
  HAVING COUNT(*) = (SELECT k FROM k)
),
r AS (
  SELECT d.day, d.event_type,
         RANK() OVER (PARTITION BY d.day ORDER BY d.n) AS rmin,
         COUNT(*) OVER (PARTITION BY d.day, d.n) AS cnt
  FROM d JOIN complete c ON c.day = d.day
),
ar AS (
  SELECT day, event_type, rmin + (cnt - 1) / 2.0 AS arank FROM r
),
rj AS (
  SELECT event_type, SUM(arank) AS rsum, COUNT(*)::DOUBLE AS n_blocks
  FROM ar GROUP BY event_type
)
SELECT CAST(MAX(n_blocks) AS BIGINT) AS n_blocks,
       CAST((SELECT k FROM k) AS BIGINT) AS k_treatments,
       ROUND(12.0 / (MAX(n_blocks) * (SELECT k FROM k) * ((SELECT k FROM k) + 1))
             * SUM(rsum * rsum)
             - 3.0 * MAX(n_blocks) * ((SELECT k FROM k) + 1), {R}) AS friedman_chi2
FROM rj
""",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    k = d.agg(F.countDistinct("event_type").alias("k"))
    complete = (
        d.groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("c") == F.col("k"))
        .select("day")
    )
    dc = d.join(complete, "day", "left_semi")
    # tie-averaged rank = min-rank + (ties-at-value - 1)/2; windows run
    # over the 5-row per-day type frame
    wday = Window.partitionBy("day").orderBy("n")
    wtie = Window.partitionBy("day", "n")
    ar = dc.select(
        "day",
        "event_type",
        (F.rank().over(wday) + (F.count(F.lit(1)).over(wtie) - 1) / 2.0).alias("arank"),
    )
    rj = ar.groupBy("event_type").agg(
        F.sum("arank").alias("rsum"), F.count(F.lit(1)).cast("double").alias("n_blocks")
    )
    agg = rj.crossJoin(F.broadcast(k)).agg(
        F.max("n_blocks").alias("nb"),
        F.max("k").cast("double").alias("kk"),
        F.sum(F.col("rsum") * F.col("rsum")).alias("ss"),
    )
    return agg.select(
        F.col("nb").cast("long").alias("n_blocks"),
        F.col("kk").cast("long").alias("k_treatments"),
        F.round(
            12.0 / (F.col("nb") * F.col("kk") * (F.col("kk") + 1)) * F.col("ss")
            - 3.0 * F.col("nb") * (F.col("kk") + 1),
            R,
        ).alias("friedman_chi2"),
    )


@register(
    "stats_empirical_bayes_rates",
    doc="empirical-Bayes shrinkage of per-part return rates "
    "(beta-binomial, method of moments): small-sample parts get "
    "pulled toward the corpus prior, high-volume parts keep their "
    "raw rate -- THE smoothing every per-entity rate dashboard needs "
    "before ranking entities with 3 observations against ones with "
    "3000. Prior strength K = m(1-m)/v - 1 from the moments of the "
    "group-rate distribution; shrunk_i = (x_i + K*m)/(n_i + K). "
    "Determinism discipline: each group's rate is quantized to "
    "integer micro-units FIRST (exact per-row op), so the moment "
    "sums are integer-exact under any partitioning (the DTW "
    "parallel-AVG lesson); the banded readout pins the defining "
    "property -- shrinkage magnitude decreases with group size. "
    "Two rollups, everything map-side combinable.",
    oracle="""
WITH g AS (
  SELECT l_partkey,
         count(*) AS n,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x,
         CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    * 1000000.0 / count(*), 0) AS BIGINT) AS rq
  FROM lineitem GROUP BY l_partkey
),
mom AS (
  SELECT count(*) AS gn,
         CAST(SUM(rq) AS DOUBLE) AS s1,
         CAST(SUM(rq * rq) AS DOUBLE) AS s2
  FROM g
),
prior AS (
  SELECT (s1 / gn) / 1000000.0 AS m,
         (s2 / gn - (s1 / gn) * (s1 / gn)) / 1000000.0 / 1000000.0 AS v
  FROM mom
),
k AS (
  SELECT m, v,
         CASE WHEN v <= 0 THEN 0.0 ELSE m * (1 - m) / v - 1 END AS kk
  FROM prior
),
scored AS (
  SELECT g.n, g.x,
         g.rq / 1000000.0 AS raw,
         (g.x + k.kk * k.m) / (g.n + k.kk) AS shrunk
  FROM g, k
)
SELECT CASE WHEN n <= 2 THEN '1_n<=2' WHEN n <= 5 THEN '2_n3-5'
            WHEN n <= 10 THEN '3_n6-10' ELSE '4_n>10' END AS band,
       count(*) AS n_groups,
       ROUND(AVG(raw), 4) AS avg_raw,
       ROUND(AVG(shrunk), 4) AS avg_shrunk,
       ROUND(AVG(abs(raw - shrunk)), 4) AS avg_shift
FROM scored
GROUP BY 1 ORDER BY band
""",
)
def stats_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    ret = (F.col("l_returnflag") == "R").cast("long")
    g = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ret).alias("x"),
    ).withColumn(
        "rq", F.round(F.col("x") * 1000000.0 / F.col("n"), 0).cast("long")
    )
    mom = g.agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum("rq").cast("double").alias("s1"),
        F.sum(F.col("rq") * F.col("rq")).cast("double").alias("s2"),
    )
    m = (F.col("s1") / F.col("gn")) / 1000000.0
    v = (F.col("s2") / F.col("gn") - (F.col("s1") / F.col("gn")) * (F.col("s1") / F.col("gn"))) / 1000000.0 / 1000000.0
    k = mom.select(
        m.alias("m"),
        v.alias("v"),
    ).withColumn(
        "kk", F.when(F.col("v") <= 0, F.lit(0.0)).otherwise(
            F.col("m") * (1 - F.col("m")) / F.col("v") - 1
        )
    )
    scored = g.crossJoin(F.broadcast(k)).select(
        "n",
        (F.col("rq") / 1000000.0).alias("raw"),
        ((F.col("x") + F.col("kk") * F.col("m")) / (F.col("n") + F.col("kk"))).alias("shrunk"),
    )
    band = (
        F.when(F.col("n") <= 2, "1_n<=2")
        .when(F.col("n") <= 5, "2_n3-5")
        .when(F.col("n") <= 10, "3_n6-10")
        .otherwise("4_n>10")
    )
    return (
        scored.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.round(F.avg("raw"), 4).alias("avg_raw"),
            F.round(F.avg("shrunk"), 4).alias("avg_shrunk"),
            F.round(F.avg(F.abs(F.col("raw") - F.col("shrunk"))), 4).alias("avg_shift"),
        )
        .orderBy("band")
    )


@register(
    "stats_simpsons_paradox_scan",
    doc="Simpson's-paradox detector: does the discount->quantity "
    "association REVERSE when lineitem is pooled vs split by part "
    "brand? For the pooled frame and every brand, the OLS slope sign "
    "of quantity on discount comes from the closed-form covariance "
    "(n*Sxy - Sx*Sy over n*Sxx - Sx^2 -- sign needs only the "
    "numerator); a brand whose slope sign contradicts the pooled "
    "sign is a paradox cell, the classic aggregation-bias audit "
    "before anyone trusts a pooled trend. ONE scan: per-brand moment "
    "sums (map-side combinable integers-and-doubles), pooled moments "
    "as the SUM of brand moments -- no second pass. Slope numerators "
    "are rounded identically before the sign compare.",
    oracle="""
WITH m AS (
  SELECT p.p_brand AS brand,
         count(*) AS n,
         SUM(l.l_discount) AS sx, SUM(l.l_quantity) AS sy,
         SUM(l.l_discount * l.l_quantity) AS sxy
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
),
pooled AS (
  SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy, SUM(sxy) AS sxy FROM m
),
sgn AS (
  SELECT m.brand, m.n,
         ROUND(m.n * m.sxy - m.sx * m.sy, 4) AS num_brand,
         ROUND(pooled.n * pooled.sxy - pooled.sx * pooled.sy, 4) AS num_pooled
  FROM m, pooled
)
SELECT brand, n AS n_lines, num_brand,
       (CASE WHEN num_brand > 0 THEN 1 WHEN num_brand < 0 THEN -1 ELSE 0 END) AS brand_sign,
       (CASE WHEN num_pooled > 0 THEN 1 WHEN num_pooled < 0 THEN -1 ELSE 0 END) AS pooled_sign,
       (num_brand * num_pooled < 0) AS paradox
FROM sgn
ORDER BY brand
""",
)
def stats_simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    j = t["lineitem"].join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
    m = j.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_discount").alias("sx"),
        F.sum("l_quantity").alias("sy"),
        F.sum(F.col("l_discount") * F.col("l_quantity")).alias("sxy"),
    )
    pooled = m.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("px"),
        F.sum("sy").alias("py"),
        F.sum("sxy").alias("pxy"),
    )
    sgn = m.crossJoin(F.broadcast(pooled)).select(
        "brand",
        F.col("n").alias("n_lines"),
        F.round(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 4).alias("num_brand"),
        F.round(F.col("pn") * F.col("pxy") - F.col("px") * F.col("py"), 4).alias("num_pooled"),
    )
    sign = lambda c: F.when(c > 0, 1).when(c < 0, -1).otherwise(0)  # noqa: E731
    return sgn.select(
        "brand",
        "n_lines",
        "num_brand",
        sign(F.col("num_brand")).alias("brand_sign"),
        sign(F.col("num_pooled")).alias("pooled_sign"),
        (F.col("num_brand") * F.col("num_pooled") < 0).alias("paradox"),
    ).orderBy("brand")


@register(
    "stats_median_ci_order_stats",
    doc="distribution-free median confidence interval via ORDER "
    "STATISTICS (the binomial/sign-test construction, normal-"
    "approximated ranks k = (n -/+ 1.959964*sqrt(n))/2): the CI "
    "bounds are the values AT those global ranks, so the operator is "
    "exact selection, not estimation -- and rank selection at the "
    "order-total grain rides operators/scan.py::global_scan "
    "(bucket-keyed shuffle + literal offsets), never a single-partition "
    "sort. Both engines compute identical rank integers (sqrt is "
    "correctly-rounded IEEE; floor/ceil of identical doubles agree) "
    "and then pass parquet values through untouched -- no float "
    "aggregation anywhere.",
    oracle="""
WITH n AS (SELECT count(*) AS n FROM orders),
k AS (
  SELECT n,
         CAST(FLOOR((n - 1.959964 * sqrt(n)) / 2) AS BIGINT) AS k_lo,
         CAST(CEIL(1 + (n + 1.959964 * sqrt(n)) / 2) AS BIGINT) AS k_hi,
         CAST((n + 1) // 2 AS BIGINT) AS k_m1,
         CAST((n + 2) // 2 AS BIGINT) AS k_m2
  FROM n
),
r AS (
  SELECT o_totalprice AS v,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS i
  FROM orders
)
SELECT k.n AS n_rows, k.k_lo, k.k_hi,
       ROUND(((SELECT v FROM r WHERE i = k.k_m1) +
              (SELECT v FROM r WHERE i = k.k_m2)) / 2, 4) AS median,
       (SELECT v FROM r WHERE i = k.k_lo) AS ci_lo,
       (SELECT v FROM r WHERE i = k.k_hi) AS ci_hi
FROM k
""",
)
def stats_median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    ranked = global_scan(
        orders.select(F.col("o_totalprice").alias("v"), "o_orderkey"),
        [ScanSpec(("v", "o_orderkey"), rank="i", n="n")],
    )
    k = ranked.select("n").limit(1).select(
        "n",
        F.floor((F.col("n") - 1.959964 * F.sqrt("n")) / 2).cast("long").alias("k_lo"),
        F.ceil(1 + (F.col("n") + 1.959964 * F.sqrt("n")) / 2).cast("long").alias("k_hi"),
        F.expr("(n + 1) div 2").alias("k_m1"),
        F.expr("(n + 2) div 2").alias("k_m2"),
    )
    picked = ranked.drop("n").join(
        F.broadcast(k),
        (F.col("i") == F.col("k_lo"))
        | (F.col("i") == F.col("k_hi"))
        | (F.col("i") == F.col("k_m1"))
        | (F.col("i") == F.col("k_m2")),
    ).select("i", "v", "k_lo", "k_hi", "k_m1", "k_m2", F.col("n").alias("n_rows"))
    agg = picked.groupBy("n_rows", "k_lo", "k_hi").agg(
        F.round(
            (
                F.max(F.when(F.col("i") == F.col("k_m1"), F.col("v")))
                + F.max(F.when(F.col("i") == F.col("k_m2"), F.col("v")))
            )
            / 2,
            4,
        ).alias("median"),
        F.max(F.when(F.col("i") == F.col("k_lo"), F.col("v"))).alias("ci_lo"),
        F.max(F.when(F.col("i") == F.col("k_hi"), F.col("v"))).alias("ci_hi"),
    )
    return agg.select("n_rows", "k_lo", "k_hi", "median", "ci_lo", "ci_hi")


@register(
    "stats_diff_in_diff",
    doc="difference-in-differences: treated nations (region R1, via the "
    "customer->nation dim) vs control, before/after the 1995-07-01 "
    "policy date, on average order value -- the causal-inference "
    "workhorse beside CUPED/SRM in the A/B family. One scan rolls the "
    "2x2 (group, period) cells (map-side combinable); the DiD "
    "estimate is exact arithmetic on the four ROUNDED cell means "
    "(both engines round identically first, so the subtraction "
    "chain cannot diverge). Output also carries the naive post-only "
    "gap the DiD corrects, which is the point of the design.",
    oracle="""
WITH cells AS (
  SELECT (n.n_regionkey = 1) AS treated,
         (o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00') AS post,
         count(*) AS n,
         ROUND(AVG(o.o_totalprice), 4) AS avg_value
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
w AS (
  SELECT
    MAX(CASE WHEN treated AND post THEN avg_value END) AS t_post,
    MAX(CASE WHEN treated AND NOT post THEN avg_value END) AS t_pre,
    MAX(CASE WHEN NOT treated AND post THEN avg_value END) AS c_post,
    MAX(CASE WHEN NOT treated AND NOT post THEN avg_value END) AS c_pre,
    CAST(SUM(n) AS BIGINT) AS n_orders
  FROM cells
)
SELECT n_orders, t_pre, t_post, c_pre, c_post,
       ROUND(t_post - c_post, 4) AS naive_post_gap,
       ROUND((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate
FROM w
""",
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    j = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
    )
    cells = j.groupBy(
        (F.col("n_regionkey") == 1).alias("treated"),
        (F.col("o_orderdate") >= F.lit("1995-07-01 00:00:00").cast("timestamp")).alias("post"),
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_value"))
    w = cells.agg(
        F.max(F.when(F.col("treated") & F.col("post"), F.col("avg_value"))).alias("t_post"),
        F.max(F.when(F.col("treated") & ~F.col("post"), F.col("avg_value"))).alias("t_pre"),
        F.max(F.when(~F.col("treated") & F.col("post"), F.col("avg_value"))).alias("c_post"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), F.col("avg_value"))).alias("c_pre"),
        F.sum("n").alias("n_orders"),
    )
    return w.select(
        "n_orders",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        F.round(F.col("t_post") - F.col("c_post"), 4).alias("naive_post_gap"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 4
        ).alias("did_estimate"),
    )


@register(
    "stats_cochran_armitage_trend",
    doc="Cochran-Armitage trend test: does the slow-shipment rate "
    "(shipped more than 90 days after the order date) trend "
    "MONOTONICALLY across the "
    "ordered order-priority levels (scores 1..5 from the priority "
    "prefix)? The chi-square family's ordered-alternative member -- "
    "chi2 asks 'any difference', CA asks 'a dose-response trend', "
    "which is the actually-actionable question for an ordered factor. "
    "Z = sum(w*(x - n*pbar)) / sqrt(pbar*(1-pbar)*(sum(w^2 n) - "
    "(sum(w n))^2/N)): every term is a ratio of INTEGER rollup counts, "
    "so both engines compute identical doubles through the one "
    "division chain; per-level rates ride along for the readout. One "
    "join + one 5-level rollup + a broadcast 1-row stitch.",
    oracle="""
WITH j AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS INTEGER) AS w,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
lv AS (SELECT w, count(*) AS n, SUM(late) AS x FROM j GROUP BY w),
tot AS (
  SELECT SUM(n) AS nn, SUM(x) AS xx,
         SUM(w * n) AS swn, SUM(w * w * n) AS sw2n, SUM(w * x) AS swx,
         SUM(w * n) * 1.0 AS swn_d
  FROM lv
),
z AS (
  SELECT nn, xx,
         (SUM_num) / sqrt(pbar * (1 - pbar) * (sw2n - swn_d * swn_d / nn)) AS z_stat
  FROM (
    SELECT nn, xx, sw2n, swn_d,
           xx * 1.0 / nn AS pbar,
           (swx - swn_d * xx / nn) AS SUM_num
    FROM tot
  )
)
SELECT lv.w AS priority_score,
       CAST(lv.n AS BIGINT) AS n_lines,
       CAST(lv.x AS BIGINT) AS n_late,
       ROUND(lv.x * 1.0 / lv.n, 4) AS late_rate,
       ROUND(z.z_stat, 4) AS trend_z
FROM lv, z
ORDER BY priority_score
""",
)
def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    j = t["lineitem"].join(
        t["orders"], F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("w"),
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("long")
        .alias("late"),
    )
    lv = j.groupBy("w").agg(F.count(F.lit(1)).alias("n"), F.sum("late").alias("x"))
    tot = lv.agg(
        F.sum("n").alias("nn"),
        F.sum("x").alias("xx"),
        (F.sum(F.col("w") * F.col("n")) * 1.0).alias("swn_d"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("sw2n"),
        F.sum(F.col("w") * F.col("x")).alias("swx"),
    )
    pbar = F.col("xx") * 1.0 / F.col("nn")
    num = F.col("swx") - F.col("swn_d") * F.col("xx") / F.col("nn")
    z = tot.select(
        (
            num
            / F.sqrt(
                pbar * (1 - pbar) * (F.col("sw2n") - F.col("swn_d") * F.col("swn_d") / F.col("nn"))
            )
        ).alias("z_stat")
    )
    return (
        lv.crossJoin(F.broadcast(z))
        .select(
            F.col("w").alias("priority_score"),
            F.col("n").alias("n_lines"),
            F.col("x").alias("n_late"),
            F.round(F.col("x") * 1.0 / F.col("n"), 4).alias("late_rate"),
            F.round("z_stat", 4).alias("trend_z"),
        )
        .orderBy("priority_score")
    )


@register(
    "stats_mann_kendall_trend",
    doc="Mann-Kendall trend test on the daily revenue series -- the "
    "nonparametric significance companion to ts_theilsen_slope's "
    "magnitude (same pairwise engine, different statistic): S = "
    "sum(sign(x_j - x_i)) over day pairs, tie-corrected variance "
    "Var(S) = [n(n-1)(2n+5) - sum t(t-1)(2t+5)] / 18, continuity-"
    "corrected Z. The pair frame is calendar-bounded (~31 days -> "
    "~465 pairs -- the Theil-Sen rationale), daily sums are rounded "
    "before ANY comparison so sign() sees identical inputs, and "
    "S/Var are integer arithmetic until the final two divisions.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day, ROUND(SUM(o_totalprice), 4) AS v
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
  GROUP BY 1
),
p AS (
  SELECT CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM d a JOIN d b ON b.day > a.day
),
s AS (SELECT SUM(sgn) AS s, count(*) AS n_pairs FROM p),
n AS (SELECT count(*) AS n FROM d),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT v, count(*) AS t FROM d GROUP BY v HAVING count(*) > 1)
),
v AS (
  SELECT (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0 AS var_s
  FROM n, ties
)
SELECT n.n AS n_days, CAST(s.s AS BIGINT) AS s_stat,
       ROUND(v.var_s, 4) AS var_s,
       ROUND(CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(v.var_s)
                  WHEN s.s < 0 THEN (s.s + 1) / sqrt(v.var_s)
                  ELSE 0.0 END, 4) AS z_stat
FROM s, n, v
""",
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-02-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("v"))
    )
    a = d.select(F.col("day").alias("da"), F.col("v").alias("va"))
    b = d.select(F.col("day").alias("db"), F.col("v").alias("vb"))
    p = a.join(b, F.col("db") > F.col("da")).select(
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = p.agg(F.sum("sgn").alias("s"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        d.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).alias("tie_term")
        )
    )
    w = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties)).select(
        "s",
        "n",
        ((F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")) / 18.0).alias(
            "var_s"
        ),
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt("var_s"))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return w.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round("var_s", 4).alias("var_s"),
        F.round(z, 4).alias("z_stat"),
    )


@register(
    "stats_jarque_bera",
    doc="Jarque-Bera normality test on o_totalprice per order priority: "
    "two-pass central moments (group mean first, then a broadcast "
    "join back so the power sums are CENTERED -- no catastrophic "
    "cancellation from raw-moment identities), skewness m3/m2^1.5, "
    "kurtosis m4/m2^2, JB = n/6 (S^2 + (K-3)^2/4). Both engines sum "
    "identical centered terms, so 4-decimal rounding is far above "
    "the reassociation ulps.",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority, AVG(o_totalprice) AS mu, count(*) AS n
  FROM orders GROUP BY 1
),
c AS (
  SELECT o.o_orderpriority, MAX(m.n) AS n,
         SUM(POW(o_totalprice - mu, 2)) / MAX(m.n) AS m2,
         SUM(POW(o_totalprice - mu, 3)) / MAX(m.n) AS m3,
         SUM(POW(o_totalprice - mu, 4)) / MAX(m.n) AS m4
  FROM orders o JOIN m USING (o_orderpriority) GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
       ROUND(m3 / POW(m2, 1.5), {R}) AS skewness,
       ROUND(m4 / (m2 * m2), {R}) AS kurtosis,
       ROUND(n / 6.0 * (POW(m3 / POW(m2, 1.5), 2)
             + POW(m4 / (m2 * m2) - 3.0, 2) / 4.0), {R}) AS jb_stat
FROM c ORDER BY o_orderpriority
""",
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    m = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("o_totalprice") - F.col("mu")
    c = (
        orders.join(F.broadcast(m), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            (F.sum(d ** 2) / F.max("n")).alias("m2"),
            (F.sum(d ** 3) / F.max("n")).alias("m3"),
            (F.sum(d ** 4) / F.max("n")).alias("m4"),
        )
    )
    skew = F.col("m3") / F.pow("m2", F.lit(1.5))
    kurt = F.col("m4") / (F.col("m2") * F.col("m2"))
    return (
        c.select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            F.round(skew, R).alias("skewness"),
            F.round(kurt, R).alias("kurtosis"),
            F.round(
                F.col("n") / 6.0 * (F.pow(skew, F.lit(2.0)) + F.pow(kurt - 3.0, F.lit(2.0)) / 4.0),
                R,
            ).alias("jb_stat"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "stats_kruskal_wallis",
    doc="Kruskal-Wallis rank test: does o_totalprice distribute "
    "identically across the five order priorities? Midranks are "
    "computed on the PER-VALUE rollup (group by value -> count, "
    "cumulative count window, avg rank = cum_before + (t+1)/2) so "
    "tie handling is exact and the global sort touches |distinct "
    "values| rows, not |orders|; per-group rank sums come from the "
    "(group, value) contingency joined to that rank table. "
    "H = 12/(N(N+1)) SUM n_i Rbar_i^2 - 3(N+1), tie-corrected by "
    "1 - SUM(t^3-t)/(N^3-N). The cumulative count runs through the "
    "hierarchical scan (operators/scan.py) because the per-value grain "
    "scales with the data -- no unpartitioned window anywhere.",
    oracle=f"""
WITH v AS (SELECT o_totalprice AS x, count(*) AS t FROM orders GROUP BY 1),
r AS (
  SELECT x, t,
         COALESCE(SUM(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (t + 1) / 2.0 AS avg_rank
  FROM v
),
gx AS (SELECT o_orderpriority AS g, o_totalprice AS x, count(*) AS c FROM orders GROUP BY 1, 2),
gr AS (
  SELECT g, SUM(c) AS n_i, SUM(c * avg_rank) AS rank_sum
  FROM gx JOIN r USING (x) GROUP BY g
),
tot AS (SELECT SUM(n_i) AS n, count(*) AS k FROM gr),
h AS (
  SELECT 12.0 / (tot.n * (tot.n + 1.0)) * SUM(rank_sum * rank_sum / n_i) - 3.0 * (tot.n + 1.0) AS h_raw
  FROM gr, tot GROUP BY tot.n
),
tie AS (SELECT COALESCE(SUM(t * t * t - t), 0) AS tie_term FROM v)
SELECT CAST(tot.n AS BIGINT) AS n, CAST(tot.k - 1 AS BIGINT) AS dof,
       ROUND(h.h_raw, {R}) AS h_stat,
       ROUND(h.h_raw / (1.0 - tie.tie_term / (tot.n * tot.n * tot.n - tot.n * 1.0)), {R}) AS h_corrected
FROM tot, h, tie
""",
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    v = orders.groupBy(F.col("o_totalprice").alias("x")).agg(F.count(F.lit(1)).alias("t"))
    # midranks via the hierarchical scan: the per-value grain SCALES
    # with the data (doubles are near-unique), so an unpartitioned
    # window here is exactly what window_lint forbids. cum is an exact
    # integer in double form, so avg_rank is engine-exact.
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    r = global_scan(v, [ScanSpec(("x",), val="t", cum="_cum")]).select(
        "x",
        "t",
        (F.col("_cum") - F.col("t") + (F.col("t") + 1) / 2.0).alias("avg_rank"),
    )
    gx = orders.groupBy(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    gr = (
        gx.join(r, "x")
        .groupBy("g")
        .agg(F.sum("c").alias("n_i"), F.sum(F.col("c") * F.col("avg_rank")).alias("rank_sum"))
    )
    tot = gr.agg(F.sum("n_i").alias("n"), F.count(F.lit(1)).alias("k"))
    h = (
        gr.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                12.0 / (F.col("n") * (F.col("n") + 1.0))
                * F.sum(F.col("rank_sum") * F.col("rank_sum") / F.col("n_i"))
                - 3.0 * (F.col("n") + 1.0)
            ).alias("h_raw")
        )
        .drop("n")
    )
    tie = v.agg(
        F.coalesce(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)).alias(
            "tie_term"
        )
    )
    return (
        tot.crossJoin(F.broadcast(h))
        .crossJoin(F.broadcast(tie))
        .select(
            F.col("n").cast("long").alias("n"),
            (F.col("k") - 1).cast("long").alias("dof"),
            F.round("h_raw", R).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (1.0 - F.col("tie_term") / (F.col("n") * F.col("n") * F.col("n") - F.col("n") * 1.0)),
                R,
            ).alias("h_corrected"),
        )
    )


@register(
    "stats_bartlett_test",
    doc="Bartlett's test for variance homogeneity of o_totalprice "
    "across the five order priorities: pooled variance "
    "s_p^2 = SUM (n_i-1) s_i^2 / (N-k), statistic "
    "[(N-k) ln s_p^2 - SUM (n_i-1) ln s_i^2] / C with "
    "C = 1 + (SUM 1/(n_i-1) - 1/(N-k)) / (3(k-1)). Group variances "
    "are two-pass centered (broadcast group means) like "
    "stats_jarque_bera, so no raw-moment cancellation; ln() agrees "
    "across libms to <=1 ulp, far inside the 4-decimal rounding.",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority, AVG(o_totalprice) AS mu, count(*) AS n
  FROM orders GROUP BY 1
),
g AS (
  SELECT o.o_orderpriority, MAX(m.n) AS n,
         SUM(POW(o_totalprice - mu, 2)) / (MAX(m.n) - 1) AS s2
  FROM orders o JOIN m USING (o_orderpriority) GROUP BY 1
),
a AS (
  SELECT count(*) AS k, SUM(n) AS n_tot,
         SUM((n - 1) * s2) AS ss_within,
         SUM((n - 1) * ln(s2)) AS sum_w_ln,
         SUM(1.0 / (n - 1)) AS sum_inv
  FROM g
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_tot AS BIGINT) AS n,
       ROUND(ss_within / (n_tot - k), {R}) AS pooled_var,
       ROUND(((n_tot - k) * ln(ss_within / (n_tot - k)) - sum_w_ln)
             / (1.0 + (sum_inv - 1.0 / (n_tot - k)) / (3.0 * (k - 1))), {R}) AS bartlett_stat,
       CAST(k - 1 AS BIGINT) AS dof
FROM a
""",
)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    m = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("o_totalprice") - F.col("mu")
    g = (
        orders.join(F.broadcast(m), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            (F.sum(d ** 2) / (F.max("n") - 1)).alias("s2"),
        )
    )
    a = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("ss_within"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("sum_w_ln"),
        F.sum(1.0 / (F.col("n") - 1)).alias("sum_inv"),
    )
    pooled = F.col("ss_within") / (F.col("n_tot") - F.col("k"))
    c = 1.0 + (F.col("sum_inv") - 1.0 / (F.col("n_tot") - F.col("k"))) / (
        3.0 * (F.col("k") - 1)
    )
    return a.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_tot").cast("long").alias("n"),
        F.round(pooled, R).alias("pooled_var"),
        F.round(
            ((F.col("n_tot") - F.col("k")) * F.log(pooled) - F.col("sum_w_ln")) / c, R
        ).alias("bartlett_stat"),
        (F.col("k") - 1).cast("long").alias("dof"),
    )


@register(
    "stats_grubbs_outlier",
    doc="Grubbs' outlier statistic per order priority: "
    "G = max |x - mean| / s (sample s, ddof=1) plus the suspect value "
    "itself. The suspect row is chosen by (deviation, value) "
    "descending -- value is the unique tiebreak, and both engines "
    "pick the same physical row because the deviations differ across "
    "engines only in reassociation ulps (~1e-10) while distinct data "
    "values are ~units apart. The suspect value is emitted RAW (it is "
    "a stored parquet double, bit-identical on both sides); only the "
    "derived mean/s/G are rounded.",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority, AVG(o_totalprice) AS mu, count(*) AS n
  FROM orders GROUP BY 1
),
s AS (
  SELECT o.o_orderpriority, MAX(mu) AS mu, MAX(m.n) AS n,
         sqrt(SUM(POW(o_totalprice - mu, 2)) / (MAX(m.n) - 1)) AS sd
  FROM orders o JOIN m USING (o_orderpriority) GROUP BY 1
),
d AS (
  SELECT o.o_orderpriority, o.o_totalprice,
         ABS(o.o_totalprice - s.mu) / s.sd AS g,
         ROW_NUMBER() OVER (PARTITION BY o.o_orderpriority
                            ORDER BY ABS(o.o_totalprice - s.mu) / s.sd DESC,
                                     o.o_totalprice DESC) AS rn
  FROM orders o JOIN s USING (o_orderpriority)
)
SELECT d.o_orderpriority, CAST(s.n AS BIGINT) AS n,
       ROUND(s.mu, {R}) AS mean_price, ROUND(s.sd, {R}) AS sd_price,
       d.o_totalprice AS suspect_value, ROUND(d.g, {R}) AS g_stat
FROM d JOIN s USING (o_orderpriority)
WHERE d.rn = 1
ORDER BY d.o_orderpriority
""",
)
def stats_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    m = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    dmu = F.col("o_totalprice") - F.col("mu")
    s = (
        orders.join(F.broadcast(m), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("mu").alias("mu"),
            F.max("n").alias("n"),
            F.sqrt(F.sum(dmu ** 2) / (F.max("n") - 1)).alias("sd"),
        )
    )
    d = orders.join(F.broadcast(s), "o_orderpriority").withColumn(
        "g", F.abs(F.col("o_totalprice") - F.col("mu")) / F.col("sd")
    )
    rn = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(
            F.col("g").desc(), F.col("o_totalprice").desc()
        )
    )
    return (
        d.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            F.round("mu", R).alias("mean_price"),
            F.round("sd", R).alias("sd_price"),
            F.col("o_totalprice").alias("suspect_value"),
            F.round("g", R).alias("g_stat"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "stats_logrank_test",
    doc="log-rank test for time-to-repeat-purchase between BUILDING "
    "and non-BUILDING customers: duration = days from a customer's "
    "first order to their second DISTINCT order day (event) or to "
    "the global last order day (right-censored). At each day with "
    "any event, at-risk counts come from exclusive cumulative exits "
    "over the per-day exit rollup -- a calendar-bounded frame (the "
    "runs-test rationale), never per-customer rows. "
    "chi2 = (O1 - E1)^2 / V with E1 = SUM n1 d / n and hypergeometric "
    "V = SUM n1 n2 d (n - d) / (n^2 (n - 1)). All counts are exact "
    "integers; E and V are fixed-order expressions rounded at 4.",
    oracle=f"""
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS last_day FROM orders),
days AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT o_custkey, day,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY day) AS rn
  FROM days
),
subj AS (
  SELECT f.o_custkey,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS grp,
         CASE WHEN s.day IS NULL THEN date_diff('day', f.day, mx.last_day)
              ELSE date_diff('day', f.day, s.day) END AS t,
         CASE WHEN s.day IS NULL THEN 0 ELSE 1 END AS ev
  FROM ranked f
  LEFT JOIN ranked s ON s.o_custkey = f.o_custkey AND s.rn = 2
  JOIN customer c ON c.c_custkey = f.o_custkey
  CROSS JOIN mx
  WHERE f.rn = 1
),
roll AS (
  SELECT t,
         SUM(CASE WHEN grp = 1 AND ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS x1,
         SUM(CASE WHEN grp = 2 AND ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d2,
         SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS x2
  FROM subj GROUP BY t
),
tot AS (
  SELECT SUM(x1) AS m1, SUM(x2) AS m2 FROM roll
),
risk AS (
  SELECT t, d1, d2,
         tot.m1 - COALESCE(SUM(x1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
         tot.m2 - COALESCE(SUM(x2) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
  FROM roll, tot
),
terms AS (
  SELECT d1, d2, n1, n2, n1 + n2 AS n, d1 + d2 AS d FROM risk
  WHERE d1 + d2 > 0 AND n1 + n2 > 1
),
agg AS (
  SELECT SUM(d1)::BIGINT AS o1,
         SUM(n1 * 1.0 * d / n) AS e1,
         SUM(n1 * 1.0 * n2 * d * (n - d) / (n * 1.0 * n * (n - 1))) AS v
  FROM terms
)
SELECT o1, ROUND(e1, {R}) AS e1, ROUND(v, {R}) AS v,
       ROUND((o1 - e1) * (o1 - e1) / v, {R}) AS chi2
FROM agg
""",
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    orders, customer = t["orders"], t["customer"]
    days = orders.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("day")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("o_custkey").orderBy("day"))
    ranked = days.withColumn("rn", rn)
    f = ranked.filter(F.col("rn") == 1).select("o_custkey", F.col("day").alias("fday"))
    s = ranked.filter(F.col("rn") == 2).select("o_custkey", F.col("day").alias("sday"))
    mx = days.agg(F.max("day").alias("last_day"))
    subj = (
        f.join(s, "o_custkey", "left")
        .join(customer, f["o_custkey"] == customer["c_custkey"])
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(2).alias("grp"),
            F.when(
                F.col("sday").isNull(), F.datediff("last_day", "fday")
            ).otherwise(F.datediff("sday", "fday")).alias("t"),
            F.when(F.col("sday").isNull(), 0).otherwise(1).alias("ev"),
        )
    )
    roll = subj.groupBy("t").agg(
        F.sum(F.when((F.col("grp") == 1) & (F.col("ev") == 1), 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("x1"),
        F.sum(F.when((F.col("grp") == 2) & (F.col("ev") == 1), 1).otherwise(0)).alias("d2"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("x2"),
    )
    tot = roll.agg(F.sum("x1").alias("m1"), F.sum("x2").alias("m2"))
    # exclusive cumulative exits over the per-day rollup: the duration
    # domain is calendar-bounded (days between first/second purchase),
    # so this unpartitioned window's frame is bounded by construction
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = roll.crossJoin(F.broadcast(tot)).select(
        "t",
        "d1",
        "d2",
        (F.col("m1") - F.coalesce(F.sum("x1").over(w), F.lit(0))).alias("n1"),
        (F.col("m2") - F.coalesce(F.sum("x2").over(w), F.lit(0))).alias("n2"),
    )
    terms = (
        risk.withColumn("n", F.col("n1") + F.col("n2"))
        .withColumn("d", F.col("d1") + F.col("d2"))
        .filter((F.col("d") > 0) & (F.col("n") > 1))
    )
    n_, d_ = F.col("n"), F.col("d")
    agg = terms.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("n1") * 1.0 * d_ / n_).alias("e1"),
        F.sum(
            F.col("n1") * 1.0 * F.col("n2") * d_ * (n_ - d_) / (n_ * 1.0 * n_ * (n_ - 1))
        ).alias("v"),
    )
    return agg.select(
        F.col("o1").cast("long").alias("o1"),
        F.round("e1", R).alias("e1"),
        F.round("v", R).alias("v"),
        F.round((F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"), R).alias(
            "chi2"
        ),
    )


@register(
    "stats_james_stein_means",
    doc="James-Stein shrinkage of per-nation mean account balances "
    "toward the grand mean of group means: "
    "B = (k-3) avg_i(s2/n_i) / SUM (m_i - mbar)^2 with the pooled "
    "within-group variance s2, shrunk_i = mbar + max(0, 1-B) "
    "(m_i - mbar). Two-pass: group means (broadcast), pooled "
    "within-variance, then the 25-row shrink -- the empirical-Bayes "
    "sibling of stats_empirical_bayes_rates for CONTINUOUS means.",
    oracle=f"""
WITH g AS (
  SELECT c_nationkey, AVG(c_acctbal) AS m, count(*) AS n
  FROM customer GROUP BY 1
),
w AS (
  SELECT SUM(POW(c.c_acctbal - g.m, 2)) AS ss
  FROM customer c JOIN g ON g.c_nationkey = c.c_nationkey
),
tot AS (SELECT count(*) AS n_tot FROM customer),
k AS (SELECT count(*) AS k, AVG(m) AS mbar FROM g),
s AS (
  SELECT w.ss / (tot.n_tot - k.k) AS s2, k.k, k.mbar FROM w, tot, k
),
b AS (
  SELECT s.k, s.mbar, s.s2,
         (s.k - 3) * (SELECT AVG(s.s2 / g.n) FROM g) /
         (SELECT SUM(POW(g.m - s.mbar, 2)) FROM g) AS shrink_b
  FROM s
)
SELECT g.c_nationkey, CAST(g.n AS BIGINT) AS n,
       ROUND(g.m, {R}) AS raw_mean,
       ROUND(b.mbar + GREATEST(0.0, 1.0 - b.shrink_b) * (g.m - b.mbar), {R}) AS shrunk_mean,
       ROUND(GREATEST(0.0, 1.0 - b.shrink_b), {R}) AS shrink_weight
FROM g, b ORDER BY g.c_nationkey
""",
)
def stats_james_stein_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_tables(spark, sf_dir, ("customer",))["customer"]
    g = customer.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("m"), F.count(F.lit(1)).alias("n")
    )
    ss = (
        customer.join(F.broadcast(g), "c_nationkey")
        .agg(F.sum((F.col("c_acctbal") - F.col("m")) ** 2).alias("ss"))
    )
    tot = customer.agg(F.count(F.lit(1)).alias("n_tot"))
    k = g.agg(F.count(F.lit(1)).alias("k"), F.avg("m").alias("mbar"))
    s = (
        ss.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(k))
        .select((F.col("ss") / (F.col("n_tot") - F.col("k"))).alias("s2"), "k", "mbar")
    )
    parts = g.crossJoin(F.broadcast(s)).agg(
        F.avg(F.col("s2") / F.col("n")).alias("avg_se2"),
        F.sum((F.col("m") - F.col("mbar")) ** 2).alias("spread"),
        F.max("k").alias("k"),
        F.max("mbar").alias("mbar"),
    )
    b = parts.select(
        "k",
        "mbar",
        ((F.col("k") - 3) * F.col("avg_se2") / F.col("spread")).alias("shrink_b"),
    )
    return (
        g.crossJoin(F.broadcast(b))
        .select(
            "c_nationkey",
            F.col("n").cast("long").alias("n"),
            F.round("m", R).alias("raw_mean"),
            F.round(
                F.col("mbar")
                + F.greatest(F.lit(0.0), 1.0 - F.col("shrink_b")) * (F.col("m") - F.col("mbar")),
                R,
            ).alias("shrunk_mean"),
            F.round(F.greatest(F.lit(0.0), 1.0 - F.col("shrink_b")), R).alias("shrink_weight"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "stats_cronbach_alpha",
    doc="Cronbach's alpha reliability of the user x event-type count "
    "matrix (items = event types, cases = users, X[u,i] = how often "
    "user u fired type i, zero-filled): alpha = k/(k-1) "
    "(1 - SUM item_var / total_var) with ddof=1 variances. Missing "
    "(user, type) cells contribute zero, so item moments are exact "
    "integer sums over the SPARSE rollup (S_i, SS_i, N) -- no dense "
    "fill materialized -- and var_i = (SS_i - S_i^2/N)/(N-1) is an "
    "identical-integer-derived double on both engines; likewise the "
    "row-total variance. The 5-item variance SUM reassociates across "
    "partitions, so the three derived doubles are rounded at 6.",
    oracle="""
WITH x AS (
  SELECT user_id, event_type, count(*)::BIGINT AS c FROM events GROUP BY 1, 2
),
nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events),
item AS (
  SELECT event_type, SUM(c)::BIGINT AS s, SUM(c * c)::BIGINT AS ss FROM x GROUP BY 1
),
iv AS (
  SELECT count(*)::BIGINT AS k,
         SUM((ss - s * 1.0 * s / nu.n) / (nu.n - 1)) AS sum_item_var
  FROM item, nu GROUP BY nu.n
),
rowt AS (SELECT user_id, SUM(c)::BIGINT AS t FROM x GROUP BY 1),
tv AS (
  SELECT (SUM(t * t) - SUM(t) * 1.0 * SUM(t) / nu.n) / (nu.n - 1) AS total_var
  FROM rowt, nu GROUP BY nu.n
)
SELECT nu.n AS n_users, iv.k AS k_items,
       ROUND(iv.sum_item_var, 6) AS sum_item_var, ROUND(tv.total_var, 6) AS total_var,
       ROUND((iv.k * 1.0 / (iv.k - 1)) * (1.0 - iv.sum_item_var / tv.total_var), 6) AS alpha
FROM nu, iv, tv
""",
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    x = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    nu = ev.agg(F.countDistinct("user_id").alias("n"))
    item = x.groupBy("event_type").agg(
        F.sum("c").alias("s"), F.sum(F.col("c") * F.col("c")).alias("ss")
    )
    iv = (
        item.crossJoin(F.broadcast(nu))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                (F.col("ss") - F.col("s") * 1.0 * F.col("s") / F.col("n")) / (F.col("n") - 1)
            ).alias("sum_item_var"),
        )
        .drop("n")
    )
    rowt = x.groupBy("user_id").agg(F.sum("c").alias("t"))
    tv = (
        rowt.crossJoin(F.broadcast(nu))
        .groupBy("n")
        .agg(
            (
                (F.sum(F.col("t") * F.col("t")) - F.sum("t") * 1.0 * F.sum("t") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("total_var")
        )
        .drop("n")
    )
    return (
        nu.crossJoin(F.broadcast(iv))
        .crossJoin(F.broadcast(tv))
        .select(
            F.col("n").alias("n_users"),
            F.col("k").alias("k_items"),
            F.round("sum_item_var", 6).alias("sum_item_var"),
            F.round("total_var", 6).alias("total_var"),
            F.round(
                (F.col("k") * 1.0 / (F.col("k") - 1))
                * (1.0 - F.col("sum_item_var") / F.col("total_var")),
                6,
            ).alias("alpha"),
        )
    )


@register(
    "stats_cochran_q",
    doc="Cochran's Q over the binary user x event-type incidence "
    "matrix (treatment j 'succeeded' for user i iff the user fired "
    "that type at least TEN times -- at-least-once is degenerate "
    "here: every user fires every type, so k T - SUM R_i^2 = 0 and "
    "Q is undefined): Q = k(k-1) SUM_j (C_j - T/k)^2 / "
    "(k T - SUM_i R_i^2) with column successes C_j, row totals R_i, "
    "grand total T -- the repeated-measures companion to "
    "stats_cronbach_alpha on the same sparse rollup (incidence, not "
    "counts). Every quantity is an exact integer; Q is one fixed-"
    "order expression of integer aggregates, rounded at 4.",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_type FROM events
  GROUP BY user_id, event_type HAVING count(*) >= 10
),
k AS (SELECT count(DISTINCT event_type)::BIGINT AS k FROM events),
col AS (SELECT event_type, count(*)::BIGINT AS c FROM x GROUP BY 1),
row_t AS (SELECT user_id, count(*)::BIGINT AS r FROM x GROUP BY 1),
s AS (
  SELECT (SELECT SUM(c) FROM col)::BIGINT AS t,
         (SELECT SUM(c * c) FROM col)::BIGINT AS sc2,
         (SELECT SUM(r * r) FROM row_t)::BIGINT AS sr2,
         (SELECT count(*) FROM row_t)::BIGINT AS n_users,
         k.k
  FROM k
)
SELECT n_users, k AS k_items, t AS grand_total,
       ROUND(k * (k - 1.0) * (sc2 - t * 1.0 * t / k) / (k * t - sr2), {R}) AS q_stat,
       CAST(k - 1 AS BIGINT) AS dof
FROM s
""",
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    x = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 10)
        .select("user_id", "event_type")
    )
    k = ev.agg(F.countDistinct("event_type").alias("k"))
    col = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    row_t = x.groupBy("user_id").agg(F.count(F.lit(1)).alias("r"))
    colagg = col.agg(
        F.sum("c").alias("t"), F.sum(F.col("c") * F.col("c")).alias("sc2")
    )
    rowagg = row_t.agg(
        F.sum(F.col("r") * F.col("r")).alias("sr2"), F.count(F.lit(1)).alias("n_users")
    )
    s = colagg.crossJoin(F.broadcast(rowagg)).crossJoin(F.broadcast(k))
    kk, t = F.col("k"), F.col("t")
    return s.select(
        F.col("n_users").cast("long").alias("n_users"),
        kk.cast("long").alias("k_items"),
        t.cast("long").alias("grand_total"),
        F.round(
            kk * (kk - 1.0) * (F.col("sc2") - t * 1.0 * t / kk) / (kk * t - F.col("sr2")), R
        ).alias("q_stat"),
        (kk - 1).cast("long").alias("dof"),
    )


@register(
    "stats_gini_mean_difference",
    doc="Gini mean difference of whole-dollar order totals: "
    "GMD = 2/(n(n-1)) SUM_i (2i - n - 1) x_(i) over the sorted "
    "sample -- the rank formulation that needs ONE global rank, "
    "supplied by the hierarchical scan (operators/scan.py), never an "
    "unpartitioned window. Integer dollars keep the weighted sum "
    "exact (< 2^53 through sf0.1); GMD and the derived relative GMD "
    "(GMD / (2 mean) = the Gini coefficient) are exact integer "
    "ratios, emitted unrounded. Ranks are made total by the "
    "(value, o_orderkey) tie-break, which the symmetric weight "
    "formula makes irrelevant to the sum -- equal values commute.",
    oracle="""
WITH v AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x, o_orderkey FROM orders
),
r AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS i,
         (SELECT count(*) FROM v) AS n
  FROM v
),
s AS (
  SELECT MAX(n) AS n, SUM((2 * i - n - 1) * x)::BIGINT AS w, SUM(x)::BIGINT AS tot
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       w * 2.0 / (n * (n - 1.0)) AS gmd,
       (w * 2.0 / (n * (n - 1.0))) / (2.0 * tot / n) AS gini_coefficient
FROM s
""",
)
def stats_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    v = orders.select(
        F.round("o_totalprice", 0).cast("long").alias("x"), "o_orderkey"
    )
    r = global_scan(v, [ScanSpec(("x", "o_orderkey"), rank="i", n="n")])
    s = r.agg(
        F.max("n").alias("n"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x")).alias("w"),
        F.sum("x").alias("tot"),
    )
    gmd = F.col("w") * 2.0 / (F.col("n") * (F.col("n") - 1.0))
    return s.select(
        F.col("n").cast("long").alias("n"),
        gmd.alias("gmd"),
        (gmd / (2.0 * F.col("tot") / F.col("n"))).alias("gini_coefficient"),
    )


@register(
    "stats_seasonal_mann_kendall",
    doc="seasonal Mann-Kendall trend test over 1995H1 daily revenue "
    "with day-of-week strata: within each weekday's day-ordered "
    "series, S_g = SUM sign(v_j - v_i) over pairs (j later than i) "
    "and tie-corrected Var_g; the seasonal statistic sums the seven "
    "strata (S = SUM S_g, Var = SUM Var_g) with the usual continuity-"
    "corrected Z. The series is integer kilodollars so every sign "
    "comparison is exact; the pair frame is calendar-bounded "
    "(~26 values per weekday over a half year). Companion to "
    "stats_mann_kendall_trend -- strata remove the weekly cycle that "
    "inflates the unstratified test.",
    oracle=f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         dayofweek(CAST(o_orderdate AS DATE)) AS dow,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS v
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
  GROUP BY 1, 2
),
p AS (
  SELECT a.dow,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM d a JOIN d b ON b.dow = a.dow AND b.day > a.day
),
sg AS (SELECT dow, SUM(sgn) AS s FROM p GROUP BY dow),
ng AS (SELECT dow, count(*) AS n FROM d GROUP BY dow),
tg AS (
  SELECT dow, COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT dow, v, count(*) AS t FROM d GROUP BY dow, v HAVING count(*) > 1)
  GROUP BY dow
),
vg AS (
  SELECT ng.dow,
         (ng.n * (ng.n - 1) * (2 * ng.n + 5) - COALESCE(tg.tie_term, 0)) / 18.0 AS var_g
  FROM ng LEFT JOIN tg ON tg.dow = ng.dow
),
tot AS (
  SELECT (SELECT SUM(s) FROM sg)::BIGINT AS s,
         (SELECT SUM(var_g) FROM vg) AS var_s,
         (SELECT count(*) FROM d)::BIGINT AS n_days
)
SELECT n_days, s AS s_stat, ROUND(var_s, 4) AS var_s,
       ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                  ELSE 0.0 END, 4) AS z_stat
FROM tot
""",
)
def stats_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
        )
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.dayofweek(F.col("o_orderdate").cast("date")).alias("dow"),
        )
        .agg(F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("v"))
    )
    a = d.select(F.col("dow"), F.col("day").alias("da"), F.col("v").alias("va"))
    b = d.select(F.col("dow").alias("dowb"), F.col("day").alias("db"), F.col("v").alias("vb"))
    p = a.join(b, (F.col("dowb") == F.col("dow")) & (F.col("db") > F.col("da"))).select(
        "dow",
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    sg = p.groupBy("dow").agg(F.sum("sgn").alias("s"))
    ng = d.groupBy("dow").agg(F.count(F.lit(1)).alias("n"))
    tg = (
        d.groupBy("dow", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("dow")
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias("tie_term"))
    )
    vg = ng.join(tg, "dow", "left").select(
        "dow",
        (
            (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.coalesce(F.col("tie_term"), F.lit(0)))
            / 18.0
        ).alias("var_g"),
    )
    tot = (
        sg.agg(F.sum("s").alias("s"))
        .crossJoin(F.broadcast(vg.agg(F.sum("var_g").alias("var_s"))))
        .crossJoin(F.broadcast(d.agg(F.count(F.lit(1)).alias("n_days"))))
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt("var_s"))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt("var_s"))
        .otherwise(F.lit(0.0))
    )
    return tot.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("s_stat"),
        F.round("var_s", 4).alias("var_s"),
        F.round(z, 4).alias("z_stat"),
    )


@register(
    "stats_hill_tail_index",
    doc="Hill estimator of the revenue tail index: over the top-100 "
    "order totals (TakeOrderedAndProject -- bounded frame), "
    "alpha_hat = 1 / (mean of ln(x_i / x_(k+1))) using the 101st "
    "value as the threshold, plus the implied tail survival exponent. "
    "Raw parquet doubles feed ln() identically on both engines; the "
    "k-term mean reassociates and is rounded at 4. The top-k cut is "
    "made total by (value, key) ordering so both engines pick the "
    "same 101 rows.",
    oracle=f"""
WITH top AS (
  SELECT o_totalprice AS x,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 101
),
thr AS (SELECT x AS x_k1 FROM top WHERE rn = 101),
h AS (
  SELECT count(*)::BIGINT AS k, AVG(ln(top.x / thr.x_k1)) AS mean_log_ratio
  FROM top, thr WHERE top.rn <= 100
)
SELECT k, ROUND((SELECT x_k1 FROM thr), 4) AS threshold,
       ROUND(mean_log_ratio, {R}) AS mean_log_ratio,
       ROUND(1.0 / mean_log_ratio, {R}) AS hill_alpha
FROM h
""",
)
def stats_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    top = (
        orders.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), "o_orderkey")
        .limit(101)
        .withColumn("rn", F.row_number().over(W.orderBy(F.col("x").desc(), "o_orderkey")))
    )
    thr = top.filter(F.col("rn") == 101).select(F.col("x").alias("x_k1"))
    h = (
        top.filter(F.col("rn") <= 100)
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.avg(F.log(F.col("x") / F.col("x_k1"))).alias("mean_log_ratio"),
            F.max("x_k1").alias("x_k1"),
        )
    )
    return h.select(
        F.col("k").cast("long").alias("k"),
        F.round("x_k1", 4).alias("threshold"),
        F.round("mean_log_ratio", R).alias("mean_log_ratio"),
        F.round(1.0 / F.col("mean_log_ratio"), R).alias("hill_alpha"),
    )


@register(
    "stats_kendall_w",
    doc="Kendall's coefficient of concordance W across three "
    "deterministic 'raters' that each rank the five event types by a "
    "different engagement metric (total events, total value, "
    "distinct users): W = 12 S / (m^2 (n^3 - n)) with "
    "S = SUM_i (R_i - m(n+1)/2)^2 over per-item rank sums. Ranks "
    "come from row_number over the 5-row metric rollups (bounded "
    "frames), ties broken by event_type so all three rankings are "
    "total; every quantity is an exact integer until the one final "
    "division, emitted unrounded. W = 1 means the three metrics "
    "induce the same ordering; near 0 they disagree.",
    oracle="""
WITH m AS (
  SELECT event_type, count(*)::BIGINT AS n_events,
         SUM("value") AS total_value,
         count(DISTINCT user_id)::BIGINT AS n_users
  FROM events GROUP BY 1
),
r AS (
  SELECT event_type,
         ROW_NUMBER() OVER (ORDER BY n_events DESC, event_type) AS r1,
         ROW_NUMBER() OVER (ORDER BY total_value DESC, event_type) AS r2,
         ROW_NUMBER() OVER (ORDER BY n_users DESC, event_type) AS r3
  FROM m
),
cnt AS (SELECT count(*)::BIGINT AS n FROM r),
s AS (
  SELECT MAX(cnt.n) AS n,
         SUM(POW(r1 + r2 + r3 - 3 * (cnt.n + 1) / 2.0, 2)) AS ss
  FROM r, cnt
)
SELECT n AS n_items, 3 AS n_raters,
       ss AS rank_spread,
       12.0 * ss / (9.0 * (n * n * n - n)) AS kendall_w
FROM s
""",
)
def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )
    r = m.select(
        "event_type",
        F.row_number().over(W.orderBy(F.col("n_events").desc(), "event_type")).alias("r1"),
        F.row_number().over(W.orderBy(F.col("total_value").desc(), "event_type")).alias("r2"),
        F.row_number().over(W.orderBy(F.col("n_users").desc(), "event_type")).alias("r3"),
    )
    n_w = W.partitionBy()
    s = r.select(
        (F.col("r1") + F.col("r2") + F.col("r3")).alias("rsum"),
        F.count(F.lit(1)).over(n_w).alias("n"),
    ).groupBy("n").agg(
        F.sum(F.pow(F.col("rsum") - 3 * (F.col("n") + 1) / 2.0, F.lit(2.0))).alias("ss")
    )
    return s.select(
        F.col("n").cast("long").alias("n_items"),
        F.lit(3).alias("n_raters"),
        F.col("ss").alias("rank_spread"),
        (12.0 * F.col("ss") / (9.0 * (F.col("n") * F.col("n") * F.col("n") - F.col("n")))).alias(
            "kendall_w"
        ),
    )


@register(
    "stats_sign_test",
    doc="paired sign test: 1996 vs 1995 daily revenue paired by "
    "(month, day) -- did revenue rise year over year? S+ = days "
    "where the 1996 side is strictly higher on the integer-"
    "kilodollar series (exact comparisons; exact ties drop out, the "
    "textbook treatment), continuity-corrected normal approximation "
    "z = (S+ - n/2 -+ 1/2) / sqrt(n/4). Everything is integer until "
    "the final z; the Feb-29 unpaired day drops out of the inner "
    "join by construction.",
    oracle="""
WITH d AS (
  SELECT EXTRACT(year FROM o_orderdate)::INT AS yr,
         EXTRACT(month FROM o_orderdate)::INT AS mo,
         EXTRACT(day FROM o_orderdate)::INT AS dy,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS v
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
  GROUP BY 1, 2, 3
),
p AS (
  SELECT a.v AS v95, b.v AS v96
  FROM d a JOIN d b ON b.mo = a.mo AND b.dy = a.dy AND a.yr = 1995 AND b.yr = 1996
),
s AS (
  SELECT SUM(CASE WHEN v96 > v95 THEN 1 ELSE 0 END)::BIGINT AS s_plus,
         SUM(CASE WHEN v96 < v95 THEN 1 ELSE 0 END)::BIGINT AS s_minus,
         SUM(CASE WHEN v96 = v95 THEN 1 ELSE 0 END)::BIGINT AS n_ties
  FROM p
)
SELECT s_plus, s_minus, n_ties,
       CAST(s_plus + s_minus AS BIGINT) AS n_effective,
       ROUND((s_plus - (s_plus + s_minus) / 2.0
              - (CASE WHEN s_plus * 2 > s_plus + s_minus THEN 0.5
                      WHEN s_plus * 2 < s_plus + s_minus THEN -0.5 ELSE 0.0 END))
             / sqrt((s_plus + s_minus) / 4.0), 4) AS z_stat
FROM s
""",
)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = (
        orders.filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dy"),
        )
        .agg(F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("v"))
    )
    a = d.filter(F.col("yr") == 1995).select("mo", "dy", F.col("v").alias("v95"))
    b = d.filter(F.col("yr") == 1996).select(
        F.col("mo").alias("mo2"), F.col("dy").alias("dy2"), F.col("v").alias("v96")
    )
    p = a.join(b, (F.col("mo2") == F.col("mo")) & (F.col("dy2") == F.col("dy")))
    s = p.agg(
        F.sum(F.when(F.col("v96") > F.col("v95"), 1).otherwise(0)).alias("s_plus"),
        F.sum(F.when(F.col("v96") < F.col("v95"), 1).otherwise(0)).alias("s_minus"),
        F.sum(F.when(F.col("v96") == F.col("v95"), 1).otherwise(0)).alias("n_ties"),
    )
    sp, sm = F.col("s_plus"), F.col("s_minus")
    cc = (
        F.when(sp * 2 > sp + sm, F.lit(0.5))
        .when(sp * 2 < sp + sm, F.lit(-0.5))
        .otherwise(F.lit(0.0))
    )
    return s.select(
        sp.cast("long").alias("s_plus"),
        sm.cast("long").alias("s_minus"),
        F.col("n_ties").cast("long").alias("n_ties"),
        (sp + sm).cast("long").alias("n_effective"),
        F.round((sp - (sp + sm) / 2.0 - cc) / F.sqrt((sp + sm) / 4.0), R).alias("z_stat"),
    )


@register(
    "stats_cooks_distance",
    doc="Cook's distance for the daily-revenue-on-day-index OLS: the "
    "ten most influential days. For simple regression the leave-one-"
    "out influence is closed-form from leverage h_i = 1/n + "
    "(x_i - xbar)^2 / Sxx and residual e_i: "
    "D_i = e_i^2 h_i / (2 s^2 (1 - h_i)^2). The series is integer "
    "kilodollars on an integer day index, so the sufficient sums are "
    "exact and every derived double is identical cross-engine; the "
    "top-10 cut orders by (D desc, day) on those identical doubles. "
    "D and friends are rounded at 6 for presentation only.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
s AS (SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) - 1 AS x FROM d),
m AS (
  SELECT count(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * x)::BIGINT AS sxx_r, SUM(x * y)::BIGINT AS sxy_r
  FROM s
),
fit AS (
  SELECT n, sx * 1.0 / n AS xbar, sy * 1.0 / n AS ybar,
         (sxy_r - sx * 1.0 * sy / n) / (sxx_r - sx * 1.0 * sx / n) AS b,
         sxx_r - sx * 1.0 * sx / n AS sxx
  FROM m
),
r AS (
  SELECT s.day, s.x, s.y,
         s.y - (fit.ybar - fit.b * fit.xbar) - fit.b * s.x AS e,
         1.0 / fit.n + (s.x - fit.xbar) * (s.x - fit.xbar) / fit.sxx AS h,
         fit.n
  FROM s, fit
),
s2 AS (SELECT SUM(e * e) / (MAX(n) - 2) AS s2 FROM r),
ck AS (
  SELECT r.day, r.e, r.h,
         r.e * r.e * r.h / (2.0 * s2.s2 * (1.0 - r.h) * (1.0 - r.h)) AS cook
  FROM r, s2
)
SELECT day, ROUND(e, 6) AS residual, ROUND(h, 6) AS leverage,
       ROUND(cook, 6) AS cooks_d
FROM ck ORDER BY cook DESC, day LIMIT 10
""",
)
def stats_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("y")
    )
    s = d.select("day", "y", (F.row_number().over(W.orderBy("day")) - 1).alias("x"))
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_r"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_r"),
    )
    fit = m.select(
        "n",
        (F.col("sx") * 1.0 / F.col("n")).alias("xbar"),
        (F.col("sy") * 1.0 / F.col("n")).alias("ybar"),
        (
            (F.col("sxy_r") - F.col("sx") * 1.0 * F.col("sy") / F.col("n"))
            / (F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx") / F.col("n"))
        ).alias("b"),
        (F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx") / F.col("n")).alias("sxx"),
    )
    r = s.crossJoin(F.broadcast(fit)).select(
        "day",
        "n",
        (F.col("y") - (F.col("ybar") - F.col("b") * F.col("xbar")) - F.col("b") * F.col("x")).alias("e"),
        (1.0 / F.col("n") + (F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar")) / F.col("sxx")).alias("h"),
    )
    s2 = r.agg((F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2)).alias("s2"))
    ck = r.crossJoin(F.broadcast(s2)).select(
        "day",
        "e",
        "h",
        (
            F.col("e") * F.col("e") * F.col("h")
            / (2.0 * F.col("s2") * (1.0 - F.col("h")) * (1.0 - F.col("h")))
        ).alias("cook"),
    )
    return (
        ck.orderBy(F.col("cook").desc(), "day")
        .limit(10)
        .select(
            "day",
            F.round("e", 6).alias("residual"),
            F.round("h", 6).alias("leverage"),
            F.round("cook", 6).alias("cooks_d"),
        )
    )


@register(
    "stats_breusch_pagan",
    doc="Breusch-Pagan heteroskedasticity test on the same daily-"
    "revenue OLS as stats_cooks_distance: regress squared residuals "
    "on the day index; LM = n R^2 of that auxiliary regression "
    "(chi-square, 1 dof). R^2 = corr^2 computed from exact-identical "
    "sufficient sums (the e_i are identical doubles; their squares "
    "and cross-products reassociate in the aggregate, so the "
    "statistic is rounded at 4). Rising-variance revenue -- bigger "
    "absolute residuals later in the series -- is exactly what this "
    "catches and the OLS t-stats silently assume away.",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(ROUND(SUM(o_totalprice) / 1000.0, 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
s AS (SELECT y, ROW_NUMBER() OVER (ORDER BY day) - 1 AS x FROM d),
m AS (
  SELECT count(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * x)::BIGINT AS sxx_r, SUM(x * y)::BIGINT AS sxy_r
  FROM s
),
fit AS (
  SELECT n, sx * 1.0 / n AS xbar, sy * 1.0 / n AS ybar,
         (sxy_r - sx * 1.0 * sy / n) / (sxx_r - sx * 1.0 * sx / n) AS b
  FROM m
),
r AS (
  SELECT s.x, POW(s.y - (fit.ybar - fit.b * fit.xbar) - fit.b * s.x, 2) AS u
  FROM s, fit
),
aux AS (
  SELECT count(*)::BIGINT AS n, SUM(x * 1.0) AS sx, SUM(u) AS su,
         SUM(x * 1.0 * x) AS sxx, SUM(u * u) AS suu, SUM(x * u) AS sxu
  FROM r
)
SELECT n,
       ROUND(POW((sxu - sx * su / n) / sqrt((sxx - sx * sx / n) * (suu - su * su / n)), 2), 4) AS r2_aux,
       ROUND(n * POW((sxu - sx * su / n) / sqrt((sxx - sx * sx / n) * (suu - su * su / n)), 2), 4) AS lm_stat,
       1 AS dof
FROM aux
""",
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    d = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum("o_totalprice") / 1000.0, 0).cast("long").alias("y")
    )
    s = d.select("y", (F.row_number().over(W.orderBy("day")) - 1).alias("x"))
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_r"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_r"),
    )
    fit = m.select(
        "n",
        (F.col("sx") * 1.0 / F.col("n")).alias("xbar"),
        (F.col("sy") * 1.0 / F.col("n")).alias("ybar"),
        (
            (F.col("sxy_r") - F.col("sx") * 1.0 * F.col("sy") / F.col("n"))
            / (F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx") / F.col("n"))
        ).alias("b"),
    )
    r = s.crossJoin(F.broadcast(fit)).select(
        "x",
        F.pow(
            F.col("y") - (F.col("ybar") - F.col("b") * F.col("xbar")) - F.col("b") * F.col("x"),
            F.lit(2.0),
        ).alias("u"),
    )
    aux = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * 1.0).alias("sx"),
        F.sum("u").alias("su"),
        F.sum(F.col("x") * 1.0 * F.col("x")).alias("sxx"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("x") * F.col("u")).alias("sxu"),
    )
    corr = (F.col("sxu") - F.col("sx") * F.col("su") / F.col("n")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        * (F.col("suu") - F.col("su") * F.col("su") / F.col("n"))
    )
    return aux.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.pow(corr, F.lit(2.0)), R).alias("r2_aux"),
        F.round(F.col("n") * F.pow(corr, F.lit(2.0)), R).alias("lm_stat"),
        F.lit(1).alias("dof"),
    )


@register(
    "stats_cmh_test",
    doc="Cochran-Mantel-Haenszel test of urgent-priority -> return "
    "association stratified by order YEAR (the confounder-adjusted "
    "2x2 family: stats_simpsons_paradox_scan detects the reversal, "
    "CMH tests the common odds ratio): per year the 2x2 is "
    "(priority in urgent/high) x (order contains a returned line); "
    "CMH = (|SUM a - SUM E| - 0.5)^2 / SUM Var with hypergeometric "
    "E = n1 m1 / T and Var = n1 n0 m1 m0 / (T^2 (T-1)). Also "
    "reports the Mantel-Haenszel pooled odds ratio "
    "SUM(a d / T) / SUM(b c / T). All cells are exact integers; the "
    "per-stratum terms are fixed-order expressions summed over ~7 "
    "years, rounded at 4.",
    oracle=f"""
WITH ret AS (
  SELECT l_orderkey, MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS returned
  FROM lineitem GROUP BY 1
),
o AS (
  SELECT EXTRACT(year FROM o.o_orderdate)::INT AS yr,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS exposed,
         COALESCE(ret.returned, 0) AS returned
  FROM orders o LEFT JOIN ret ON ret.l_orderkey = o.o_orderkey
),
k AS (
  SELECT yr,
         SUM(CASE WHEN exposed = 1 AND returned = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
         SUM(CASE WHEN exposed = 1 AND returned = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
         SUM(CASE WHEN exposed = 0 AND returned = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
         SUM(CASE WHEN exposed = 0 AND returned = 0 THEN 1 ELSE 0 END)::BIGINT AS d
  FROM o GROUP BY yr
),
t AS (
  SELECT yr, a, b, c, d, a + b AS n1, c + d AS n0, a + c AS m1, b + d AS m0,
         a + b + c + d AS tt
  FROM k
),
agg AS (
  SELECT count(*)::BIGINT AS n_strata,
         SUM(a)::BIGINT AS sum_a,
         SUM(n1 * 1.0 * m1 / tt) AS sum_e,
         SUM(n1 * 1.0 * n0 * m1 * m0 / (tt * 1.0 * tt * (tt - 1))) AS sum_v,
         SUM(a * 1.0 * d / tt) AS sum_ad,
         SUM(b * 1.0 * c / tt) AS sum_bc
  FROM t
)
SELECT n_strata, sum_a, ROUND(sum_e, {R}) AS expected_a,
       ROUND(POW(ABS(sum_a - sum_e) - 0.5, 2) / sum_v, {R}) AS cmh_stat,
       ROUND(sum_ad / sum_bc, {R}) AS mh_odds_ratio
FROM agg
""",
)
def stats_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    ret = t["lineitem"].groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returned")
    )
    o = (
        t["orders"]
        .join(ret, t["orders"]["o_orderkey"] == ret["l_orderkey"], "left")
        .select(
            F.year("o_orderdate").alias("yr"),
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("exposed"),
            F.coalesce(F.col("returned"), F.lit(0)).alias("returned"),
        )
    )
    k = o.groupBy("yr").agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("returned") == 1), 1).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("returned") == 0), 1).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("returned") == 1), 1).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("returned") == 0), 1).otherwise(0)).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    tcols = k.select(
        "yr", a, b, c, d,
        (a + b).alias("n1"), (c + d).alias("n0"),
        (a + c).alias("m1"), (b + d).alias("m0"),
        (a + b + c + d).alias("tt"),
    )
    agg = tcols.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("a").alias("sum_a"),
        F.sum(F.col("n1") * 1.0 * F.col("m1") / F.col("tt")).alias("sum_e"),
        F.sum(
            F.col("n1") * 1.0 * F.col("n0") * F.col("m1") * F.col("m0")
            / (F.col("tt") * 1.0 * F.col("tt") * (F.col("tt") - 1))
        ).alias("sum_v"),
        F.sum(F.col("a") * 1.0 * F.col("d") / F.col("tt")).alias("sum_ad"),
        F.sum(F.col("b") * 1.0 * F.col("c") / F.col("tt")).alias("sum_bc"),
    )
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("sum_a").cast("long").alias("sum_a"),
        F.round("sum_e", R).alias("expected_a"),
        F.round(
            F.pow(F.abs(F.col("sum_a") - F.col("sum_e")) - 0.5, F.lit(2.0)) / F.col("sum_v"), R
        ).alias("cmh_stat"),
        F.round(F.col("sum_ad") / F.col("sum_bc"), R).alias("mh_odds_ratio"),
    )


@register(
    "stats_distribution_fit_moments",
    doc="method-of-moments distribution fits for order totals per "
    "priority -- the parametric summary a pricing model starts from: "
    "Gamma (shape = mean^2/var, scale = var/mean) and lognormal "
    "(mu/sigma^2 from the ln-value moments), plus each fit's implied "
    "mean-of-logs gap as a cheap which-fits-better signal (for "
    "Gamma, E[ln X] = digamma(k) + ln theta ~ ln(k theta) - 1/(2k) "
    "-- the second-order Stirling approximation, spelled identically "
    "on both engines). Two-pass centered moments on both the raw and "
    "log scales; rounded at 4.",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority, AVG(o_totalprice) AS mu, AVG(ln(o_totalprice)) AS lmu,
         count(*) AS n
  FROM orders GROUP BY 1
),
c AS (
  SELECT o.o_orderpriority, MAX(m.n) AS n, MAX(m.mu) AS mu, MAX(m.lmu) AS lmu,
         SUM(POW(o.o_totalprice - m.mu, 2)) / MAX(m.n) AS var,
         SUM(POW(ln(o.o_totalprice) - m.lmu, 2)) / MAX(m.n) AS lvar
  FROM orders o JOIN m USING (o_orderpriority) GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
       ROUND(mu * mu / var, {R}) AS gamma_shape,
       ROUND(var / mu, {R}) AS gamma_scale,
       ROUND(lmu, {R}) AS lognorm_mu,
       ROUND(sqrt(lvar), {R}) AS lognorm_sigma,
       ROUND(ABS((ln(mu * mu / var * (var / mu)) - 1.0 / (2.0 * mu * mu / var)) - lmu), {R}) AS gamma_logmean_gap
FROM c ORDER BY o_orderpriority
""",
)
def stats_distribution_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    m = orders.groupBy("o_orderpriority").agg(
        F.avg("o_totalprice").alias("mu"),
        F.avg(F.log("o_totalprice")).alias("lmu"),
        F.count(F.lit(1)).alias("n"),
    )
    c = (
        orders.join(F.broadcast(m), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            F.max("mu").alias("mu"),
            F.max("lmu").alias("lmu"),
            (F.sum((F.col("o_totalprice") - F.col("mu")) ** 2) / F.max("n")).alias("var"),
            (F.sum((F.log("o_totalprice") - F.col("lmu")) ** 2) / F.max("n")).alias("lvar"),
        )
    )
    shape = F.col("mu") * F.col("mu") / F.col("var")
    scale = F.col("var") / F.col("mu")
    return c.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.round(shape, R).alias("gamma_shape"),
        F.round(scale, R).alias("gamma_scale"),
        F.round("lmu", R).alias("lognorm_mu"),
        F.round(F.sqrt("lvar"), R).alias("lognorm_sigma"),
        F.round(
            F.abs((F.log(shape * scale) - 1.0 / (2.0 * shape)) - F.col("lmu")), R
        ).alias("gamma_logmean_gap"),
    ).orderBy("o_orderpriority")
