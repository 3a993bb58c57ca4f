"""Deterministic hash-based sampling and dataset splitting.

Training pipelines need splits and samples that are (a) stable across
runs and engines (no RNG state, no partition-order dependence), (b)
sticky per key (a document keeps its split forever, even as the corpus
around it grows), and (c) cheap at 100 TB (a pure projection -- no
shuffle, no sort, no join). ``sample()``/``rand()`` give none of these.

The bucket function is the first 15 hex digits (60 bits) of
md5(key || ':' || seed) taken mod ``buckets``. md5 is available and
bit-identical in every engine (the DuckDB oracle computes the same
bucket), and 60 bits keeps the hex->int conversion inside BIGINT range.
Salting with ``seed`` decorrelates independent samples over the same
keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, buckets: int = 10_000, seed: str = "0") -> Column:
    """Uniform stable bucket in [0, buckets) from md5(key || ':' || seed)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(":" + seed)))
    return F.pmod(F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(buckets))


def hash_sample(df: DataFrame, id_col: str, fraction: float, buckets: int = 10_000, seed: str = "0") -> DataFrame:
    """Deterministic ~fraction sample, sticky per id."""
    return df.filter(hash_bucket(F.col(id_col), buckets, seed) < int(round(fraction * buckets)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    buckets: int = 10_000,
    seed: str = "0",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its id's hash
    bucket falls under its stratum's fraction (strata not named get
    ``default``). The standard corpus-mixing move -- downsample web,
    keep books/wiki -- as a pure projection+filter: no shuffle, no RNG,
    sticky per id, and upsizing one stratum's fraction later KEEPS every
    previously sampled row (buckets nest), so mixes are re-tunable
    without re-materializing the corpus."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
    b = hash_bucket(F.col(id_col), buckets, seed)
    thr: Column | None = None
    for name, frac in fractions.items():
        cond = F.col(strata_col) == name
        cut = F.lit(int(round(frac * buckets)))
        thr = F.when(cond, cut) if thr is None else thr.when(cond, cut)
    default_cut = F.lit(int(round(default * buckets)))
    thr = default_cut if thr is None else thr.otherwise(default_cut)
    return df.filter(b < thr)


def exact_k_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    seed: str = "0",
) -> DataFrame:
    """Exactly min(k, group size) rows per group, drawn uniformly
    without replacement by ranking on the 60-bit key hash (ties -- only
    possible on hash collision -- broken by id, so the draw is total and
    engine-portable). Unlike the fraction samplers this costs ONE
    shuffle (the per-group ranking window); use it when a hard per-group
    budget matters more than shuffle-freeness (per-domain caps, eval-set
    carving). Partitioned by group, so skew follows group sizes -- at
    100 TB put the big groups' rank on a salted two-phase top-k if one
    group dominates (same recipe as operators/skew.py)."""
    from pyspark.sql import Window

    h = F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))), 1, 15), 16, 10).cast("bigint")
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    buckets: int = 10_000,
    seed: str = "0",
    out_col: str = "split",
) -> DataFrame:
    """Adds ``out_col`` assigning each row to a named split with the
    given weights (must sum to ~1). Pure projection: no shuffle."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(F.col(id_col), buckets, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = b < int(round(acc * buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return df.withColumn(out_col, last if expr is None else expr.otherwise(last))


def weighted_mixture(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    factors: dict[str, float],
    default: float = 1.0,
    buckets: int = 10_000,
    seed: str = "mix",
    rep_col: str = "_rep",
) -> DataFrame:
    """Up/down-sample each stratum by a real-valued replication factor --
    the data-mixture step (e.g. wiki x3.5, web x0.4) emitted as rows.

    A factor r emits floor(r) copies of every row plus one more for the
    deterministic ``frac(r)`` hash-slice of ids (the same md5-bucket draw
    as stratified_sample, so a factor of 0.4 keeps exactly the rows
    hash_sample(0.4) would). ``rep_col`` numbers the copies (0-based) so
    downstream shuffling/packing can distinguish them.

    Scale shape: pure projection + row-local explode(sequence) -- no
    shuffle, no RNG state, no driver participation; output volume is
    sum(r_s * |s|), exactly the data a trainer must read anyway.
    Upsampling by integer factors keeps every id; re-tuning a fractional
    part later preserves previously kept rows (buckets nest).
    """
    for name, r in factors.items():
        if r < 0:
            raise ValueError(f"factor for {name!r} must be >= 0, got {r}")
    if default < 0:
        raise ValueError(f"default factor must be >= 0, got {default}")

    fac: Column | None = None
    for name, r in factors.items():
        cond = F.col(strata_col) == name
        fac = F.when(cond, F.lit(float(r))) if fac is None else fac.when(cond, F.lit(float(r)))
    fac = F.lit(float(default)) if fac is None else fac.otherwise(F.lit(float(default)))

    whole = F.floor(fac).cast("bigint")
    # fractional copy: same nested-bucket draw as stratified_sample
    frac_cut = F.round((fac - whole) * buckets).cast("bigint")
    extra = (hash_bucket(F.col(id_col), buckets, seed) < frac_cut).cast("bigint")
    copies = (whole + extra).alias("_copies")

    out = df.withColumn("_copies", copies).filter(F.col("_copies") > 0)
    return (
        out.withColumn(rep_col, F.explode(F.sequence(F.lit(0), F.col("_copies") - 1)))
        .drop("_copies")
    )


def shuffle_key(key: Column, epoch: int, seed: str = "0") -> Column:
    """60-bit deterministic shuffle position for a key in a given epoch
    (first 15 hex digits of md5(key || ':e<epoch>:' || seed)). Distinct
    epochs re-salt the hash, so per-epoch orders are decorrelated while
    each remains reproducible run-to-run and engine-to-engine."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f":e{int(epoch)}:{seed}")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def epoch_shuffle(
    df: DataFrame, id_col: str, n_shards: int, epoch: int, seed: str = "0"
) -> DataFrame:
    """Deterministic training-order shuffle + sharding: assign every row
    a shard and a position within it for the given epoch.

    The training-data endgame: after dedup/filter/mix, the corpus must
    be written in a randomized order, re-randomized per epoch, and split
    into shards a loader can stream -- WITHOUT an RNG (irreproducible
    across retries) and WITHOUT a global sort (one total order = one
    range exchange whose output ordering few writers can exploit).

    shard = shuffle_key % n_shards; within-shard position = rank by
    (shuffle_key, id). Physically that is ONE hash exchange on shard +
    a per-shard sort -- exactly the work of writing the shard files, no
    extra shuffle. n_shards should be ~the write parallelism (each
    shard sorts in one task); the per-shard window is the intended unit
    of work, not a skew accident: md5 spreads ids uniformly, so shards
    are balanced within sampling error. A new epoch changes only the
    salt: no state, no reseeding protocol, any subset of shards can be
    regenerated independently (crash recovery at 100 TB).
    """
    k = shuffle_key(F.col(id_col), epoch, seed)
    shard = F.pmod(k, F.lit(int(n_shards))).cast("int")
    w = Window.partitionBy("shard").orderBy("_skey", id_col)
    return (
        df.withColumn("_skey", k)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .drop("_skey")
    )


def weighted_exact_k(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "0",
    snap_bits: int = 20,
) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement per group
    (Efraimidis-Spirakis A-ExpJ, restated deterministically): each row
    draws key = ln(u) / weight with u from the md5 hash of its id, and
    the k rows with the LARGEST keys win -- inclusion probability
    proportional to weight, sticky per id, no RNG state.

    Cross-engine exactness uses the kmeans/IVF playbook: u is a
    half-open bucket midpoint ((bucket + 0.5) / 2^20, never 0 or 1) and
    the key is snapped to the 2^-20 binary grid, absorbing libm ln ulp
    differences; ties after snapping break by id. Non-positive weights
    are excluded (they have no sampling mass).

    Scale: ranking is delegated to operators/topk.py::grouped_topk,
    whose WindowGroupLimit keeps <= k rows per group before the
    exchange, so the exchange is k-bounded. The classic reservoir
    formulation is sequential; this is its shuffle-disciplined batch
    equivalent.
    """
    from testlog_etl_spark.operators.topk import grouped_topk

    g = float(1 << snap_bits)
    b = hash_bucket(F.col(id_col), 1 << snap_bits, seed=seed)
    u = (b.cast("double") + F.lit(0.5)) / F.lit(g)
    raw = F.ln(u) / F.col(weight_col).cast("double")
    # floor in the DOUBLE domain (z - pmod(z, 1) == floor(z) exactly for
    # |z| < 2^52, and z itself beyond -- where doubles are integral):
    # F.floor returns LONG and would overflow for near-zero weights,
    # deterministically excluding legitimate rows
    z = raw * g + F.lit(0.5)
    key = (z - F.pmod(z, F.lit(1.0))) / F.lit(g)
    keyed = df.filter(F.col(weight_col) > 0).withColumn("_skey", key)
    return grouped_topk(keyed, [group_col], "_skey", id_col, k=k, descending=True)


def temperature_allocation(
    df: DataFrame,
    strata_col: str,
    tokens_col: Column | str,
    budget: int,
    grid_bits: int = 20,
) -> DataFrame:
    """Temperature-resampled domain mixture with an EXACT integer token
    budget: per stratum, raw share p = tokens/total is flattened to
    w = sqrt(p) (temperature T=2 -- the multilingual-corpus rebalancing
    move: head domains give up mass to the tail), renormalized, and the
    token ``budget`` is split by LARGEST-REMAINDER apportionment so the
    integer allocations sum to exactly ``budget``.

    Cross-engine determinism: w is snapped to the 2^-grid_bits dyadic
    grid, so the renormalizing sum is exact in any fold order; every
    downstream value (target = budget*w/sum_w, floor, remainder) is a
    single IEEE op chain on identical operands, hence bit-identical in
    Spark and the SQL oracle. sqrt is correctly-rounded by IEEE 754 --
    unlike pow(p, alpha), which is why the temperature is fixed at the
    sqrt point rather than parameterized.

    Scale shape: ONE rollup shuffle to the stratum grain; every window
    after it runs over the reduced |strata| frame (a fixed small
    domain -- callers must whitelist the bounded unpartitioned window
    in the scale lint, as jx_full_pipeline does)."""
    g = float(1 << grid_bits)
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    agg = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("long").alias("tokens"),
    )
    ww = Window.partitionBy()  # bounded: one row per stratum
    tot = F.sum("tokens").over(ww)
    p = F.when(tot > 0, F.col("tokens").cast("double") / tot.cast("double")).otherwise(F.lit(0.0))
    w = F.floor(F.sqrt(p) * F.lit(g) + F.lit(0.5)) / F.lit(g)
    s = agg.withColumn("share", p).withColumn("w_temp", w)
    sw = F.sum("w_temp").over(ww)
    target = F.when(sw > 0, F.lit(float(budget)) * F.col("w_temp") / sw).otherwise(F.lit(0.0))
    s = s.withColumn("_target", target).withColumn("_base", F.floor(target))
    extra = (F.lit(budget) - F.sum("_base").over(ww)).cast("long")
    rnk = F.row_number().over(
        Window.orderBy((F.col("_target") - F.col("_base")).desc(), F.col(strata_col).asc())
    )
    return (
        s.withColumn("_extra", extra)
        .withColumn("_rnk", rnk)
        .withColumn(
            "alloc_tokens",
            # degenerate empty-corpus case (sum of weights 0): allocate
            # nothing rather than hand every stratum a remainder unit
            F.when(
                sw > 0,
                F.col("_base") + F.when(F.col("_rnk") <= F.col("_extra"), 1).otherwise(0),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_target", "_base", "_extra", "_rnk")
    )
