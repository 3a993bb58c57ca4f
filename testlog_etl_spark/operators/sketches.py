"""Mergeable-sketch rollups: pre-aggregate cardinality sketches at
ingest granularity, merge them at query time.

The 100 TB pattern this encodes: a daily job reduces each partition to
one HLL sketch row (bytes, not ids); month/quarter queries then merge a
handful of sketch rows instead of re-scanning the raw corpus. The core
guarantee that makes the pattern sound is MERGE EXACTNESS:
``hll_union_agg`` over per-bucket sketches yields the IDENTICAL
estimate to one ``hll_sketch_agg`` over the unioned raw rows (an HLL
register array is a lattice join -- merge order and grouping cannot
change it). That invariant is pinned in tests; accuracy vs exact
distinct is the usual HLL ~2% at lgConfigK=12.

Built on Spark 4's Apache DataSketches exposure (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``), JVM-side throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sketch_by(
    df: DataFrame,
    bucket_cols: list[str],
    value_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """One row per bucket: (bucket_cols..., n_rows, sketch bytes).
    This is the ingest-time reduction -- the only pass over raw data."""
    return df.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("sketch"),
    )


def merge_sketches(
    sketches: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Query-time merge: collapse sketch rows to ``group_cols`` and
    estimate. Touches only sketch bytes -- never the raw table."""
    return sketches.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long").alias("approx_distinct"),
    )


def countmin_sketch(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: a fixed depth x
    width counter grid, each row counted into one cell per hash row.

    Unlike HLL bytes, a count-min sketch is plain integer arithmetic on
    engine-portable hashes (the md5-bucket idiom from sampling.py), so
    it is EXACTLY reproducible cross-engine -- the DuckDB oracle
    rebuilds the identical grid. Deterministic by construction: cell
    values are sums, order-free.

    Scale: the sketch aggregate shuffles (row, col) keys only -- at most
    depth x width cells regardless of input size -- and cells are
    map-side combined, so the exchange volume is bounded by the CLUSTER
    (parts x cells), not the data. Sketches merge by cell-wise sum
    (``merge_countmin``), the property that makes per-day sketch rows
    rollable into months without rescanning -- same contract as the HLL
    rollup, but exact-arithmetic instead of register-lattice.
    """
    from testlog_etl_spark.operators.sampling import hash_bucket

    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                hash_bucket(F.col(key_col), width, seed=f"cm{i}").cast("int").alias("col"),
            )
            for i in range(int(depth))
        ]
    )
    return (
        df.select(F.explode(probes).alias("_p"))
        .groupBy(F.col("_p.row").alias("row"), F.col("_p.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_countmin(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of same-shape sketches (the mergeability contract:
    merge(sketch(A), sketch(B)) == sketch(A UNION ALL B), exactly)."""
    it = iter(sketches)
    acc = next(it)
    for s in it:
        acc = acc.unionByName(s)
    return acc.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def countmin_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-frequency estimates: min over the key's depth cells.
    Guaranteed >= the true count (collisions only ADD); the sketch side
    is depth x width rows, so it broadcasts."""
    from testlog_etl_spark.operators.sampling import hash_bucket

    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                hash_bucket(F.col(key_col), width, seed=f"cm{i}").cast("int").alias("col"),
            )
            for i in range(int(depth))
        ]
    )
    probed = keys.select(F.col(key_col), F.explode(probes).alias("_p")).select(
        key_col, F.col("_p.row").alias("row"), F.col("_p.col").alias("col")
    )
    return (
        probed.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_n"))
    )


def histogram_sketch(
    df: DataFrame, group_col: str, value_col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Equi-width histogram sketch per group: integral counts per fixed
    bin, values clamped to [lo, hi). Like the count-min grid (and unlike
    HLL register bytes) this is exact integer arithmetic over a
    deterministic binning, so it is exactly reproducible cross-engine
    AND mergeable by cell-wise addition -- per-day histogram rows roll
    into months without rescanning, the quantile estimate below reads
    the merged grid."""
    w = (float(hi) - float(lo)) / int(bins)
    # clamp in LONG, cast to int only after: an extreme out-of-range
    # value must land in the edge bin, not overflow the int cast (ANSI
    # mode would fail the job; non-ANSI would wrap into a random bin)
    b = F.least(
        F.lit(int(bins) - 1).cast("long"),
        F.greatest(F.lit(0).cast("long"), F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w))),
    ).cast("int")
    return (
        df.groupBy(F.col(group_col), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile(
    sketch: DataFrame, group_col: str, q: float, lo: float, hi: float, bins: int
) -> DataFrame:
    """Quantile estimate from the histogram grid: find the bin where the
    running count crosses q*n, interpolate linearly inside it. Pure
    window arithmetic over <= ``bins`` rows per group -- deterministic,
    engine-portable (integer cumsums; one double division at the end)."""
    from pyspark.sql import Window

    w = (float(hi) - float(lo)) / int(bins)
    win = Window.partitionBy(group_col).orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy(group_col)
    c = (
        sketch.withColumn("cum", F.sum("cnt").over(win))
        .withColumn("n", F.sum("cnt").over(tot))
        .withColumn("_target", F.lit(float(q)) * F.col("n"))
    )
    # first bin whose cumulative count reaches the target
    hit = c.filter(F.col("cum") >= F.col("_target")).groupBy(group_col).agg(
        F.min_by(
            F.struct("bin", "cum", "cnt", "_target"), F.col("bin")
        ).alias("_h")
    )
    frac = (F.col("_h._target") - (F.col("_h.cum") - F.col("_h.cnt"))) / F.col("_h.cnt")
    est = F.lit(float(lo)) + (F.col("_h.bin").cast("double") + frac) * F.lit(w)
    return hit.select(F.col(group_col), est.alias("q_est"))


def misra_gries_candidates(df: DataFrame, key_col: str, k: int = 200) -> DataFrame:
    """Per-partition Misra-Gries summaries of ``key_col`` frequency:
    at most ``k`` candidate rows (item, est) per partition, emitted by
    an Arrow-batched bounded-memory fold.

    The load-bearing MG recall guarantee (Misra & Gries 1982; merge
    form per Agarwal et al., "Mergeable Summaries", PODS 2012): any
    item with partition frequency > n_p/k survives that partition's
    summary, and by averaging, any item with GLOBAL frequency > n/k
    exceeds n_p/k in at least one partition -- so the union of
    per-partition summaries contains every global heavy hitter. The
    batch fold is the mergeable-summaries generalization of the
    classic one-at-a-time decrement: add a batch's exact counts to the
    counter map, then if more than k counters remain subtract the
    (k+1)-th largest value from all and drop the non-positive -- a
    simultaneous decrement that preserves the undercount bound.

    Memory per task: k counters + one Arrow batch's distincts, however
    many distinct keys the full column has -- the property that makes
    this viable where an exact groupBy's shuffle would carry the whole
    vocabulary. Shuffle cost of the summary: <= k rows per partition.

    Each partition also yields one NULL-item row carrying its non-null
    row count in ``est``: summing those rows gives the global ``n`` of
    the heavy-hitter threshold from this pass, with no separate count
    over the same input.
    """
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField("item", StringType()), StructField("est", LongType())]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: pd.Series | None = None
        total = 0
        for pdf in batches:
            vc = pdf[key_col].dropna().astype(str).value_counts()
            if vc.empty:
                continue
            total += int(vc.sum())
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = (counters - cut)[lambda s: s > 0]
        if counters is not None and not counters.empty:
            yield pd.DataFrame(
                {"item": counters.index, "est": counters.to_numpy("int64")}
            )
        yield pd.DataFrame({"item": [None], "est": [total]})

    return df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        fold, out_schema
    )


def heavy_hitters_exact(df: DataFrame, key_col: str, k: int = 200) -> DataFrame:
    """EXACT frequencies of every item with count > n/k, found without
    ever shuffling the full key distribution: MG candidate generation
    (recall-complete, <= k rows/partition) then one verification scan
    that counts ONLY candidate keys (broadcast semi-filter prunes the
    aggregate's shuffle to candidate rows). Output: (item, cnt, n),
    where ``n`` is the total non-null row count -- the candidate set's
    false positives are removed by the exact filter, so the result is
    identical to the full GROUP BY ... HAVING twin.

    One scalar subquery folds the MG summary into the candidate set and
    ``n`` (the sum of the per-partition NULL-item count rows), so the
    input is scanned exactly twice (MG + verification), the floor for
    exact MG, and building the frame runs no Spark job.
    """
    summ = (
        misra_gries_candidates(df, key_col, k)
        .agg(
            F.collect_set("item").alias("items"),
            F.coalesce(F.sum(F.when(F.col("item").isNull(), F.col("est"))), F.lit(0)).alias("n"),
        )
        .select(F.struct("items", "n"))
        .scalar()
    )
    # explode_outer: a plain explode makes Catalyst infer a non-empty
    # filter that copies the subquery (optimized once per copy); the NULL
    # row it leaves for an empty set matches nothing in the semi join
    cands = df.sparkSession.range(1).select(F.explode_outer(summ["items"]).alias("item"))
    keyed = df.select(F.col(key_col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )
    return (
        keyed.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("item", "cnt", summ["n"].alias("n"))
        .where(F.col("cnt") * k > F.col("n"))
    )


def bitmap_words(df: DataFrame, bucket_cols: list[str], id_col: str) -> DataFrame:
    """EXACT mergeable distinct-count sketch for dense integer ids (the
    roaring-bitmap pattern, flat-word form): per bucket, the id set as
    (word_index, 64-bit word) rows -- id i sets bit i%64 of word i//64.

    Like the HLL rollup this is an ingest-time reduction whose merge is
    a lattice join (bitwise OR -- order- and grouping-free), but for id
    domains that are dense integers it is EXACT, not ~2%: re-aggregating
    coarser grains (day sketches -> month distinct) ors words and
    popcounts, never touching raw rows again. State per bucket:
    ceil(domain/64) longs AT WORST, and only OCCUPIED words exist as
    rows (sparse buckets stay small -- the roaring insight, minus the
    per-container encoding switch).

    Shuffle: one partial-aggregated exchange of (bucket, word_index)
    keys -- map-side bit_or collapses each partition's rows to occupied
    words first, so exchange volume is occupancy-bounded, not
    row-bounded.
    """
    # integral division (`/` is double true-division, exact only < 2^53);
    # shiftleft's bit count must be a column here, so SQL-expr form
    word = F.expr(f"`{id_col}` div 64").alias("_w")
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(`{id_col}`, 64) AS INT))")
    return (
        df.select(*bucket_cols, word, bit.alias("_b"))
        .groupBy(*bucket_cols, "_w")
        .agg(F.bit_or("_b").alias("_bits"))
    )


def bitmap_merge_distinct(
    words: DataFrame, group_cols: list[str], out: str = "n_distinct"
) -> DataFrame:
    """Merge word rows to ``group_cols`` (bitwise OR per word index) and
    popcount: the exact distinct over the merged buckets. Touches only
    sketch rows, never raw data."""
    merged = words.groupBy(*group_cols, "_w").agg(F.bit_or("_bits").alias("_m"))
    return merged.groupBy(*group_cols).agg(
        F.sum(F.bit_count("_m")).cast("long").alias(out)
    )
