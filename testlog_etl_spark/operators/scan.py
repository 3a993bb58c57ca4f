"""Distributed global scan: rank, running sum and running max in an
arbitrary total order WITHOUT a single-partition window.

Spark plans ``Window.orderBy(...)`` with no ``partitionBy`` as ONE task
holding the entire input -- fine over a frame that is bounded by
construction (histogram buckets, top-100 lists), fatal over a grain
that scales with the data (per-customer / per-part rollups are
~billions of rows at 100 TB TPC-H). The reference's row-at-a-time
engines answer rank, percentile and running-aggregate questions by
sorting on one node; ``global_scan`` is the Spark-first restatement,
computed entirely in-plan -- no range shuffle, no Python worker, no
join, and no Spark job while the frame is built:

1. boundaries: a scalar subquery takes the ``64*nb`` rows with the
   smallest ``xxhash64`` of the order tuple (a uniform row sample that
   does not favour early partitions; ties broken by the prefix columns,
   so the sample is the same on every execution) and picks ``nb-1``
   evenly spaced distinct boundary tuples per order, so boundaries
   follow row quantiles;
2. bucket id: ``#{b < struct(prefix)}`` (``>`` for a descending
   prefix), where the prefix is the longest run of atomic leading order
   columns sharing the first column's direction. A count of boundaries
   below a value is monotone in the value for ANY boundary set, and
   Spark's struct ordering places null, NaN and +-0 exactly as its sort
   does, so buckets are order-contiguous by construction: boundaries
   only shape skew, never results. A non-atomic leading column gives
   one bucket (ranks stay exact). The boundary array is projected as a
   column, read by one ``CASE WHEN`` per boundary, and dropped before
   the exchange;
3. rollup: a second scalar subquery computes every spec's per-bucket
   count, sum and max in one inline+aggregate (<= n_specs*nb rows)
   and folds them, in bucket order, into exclusive offsets and
   prefix-max carries (array functions over one row, no window);
4. per row: offset[bucket] + row_number / running sum / running max
   over ``Window.partitionBy(bucket).orderBy(order)`` -- one hash
   exchange per distinct order (specs sharing an order share one
   bucket column and one window, which CollapseWindow plans once). The
   rollup is projected after the last window, so no array rides an
   exchange.

The bucket count is ``min(max(2, num_buckets or defaultParallelism),
256)``: it grows with the cluster but is capped, so the subquery
results (<= 255 boundary structs per order) and the sample (<= 16384
rows) stay bounded on any cluster.

FP note: the running sum associates as (bucket offset) + an
intra-bucket sequential fold. Callers that need ENGINE-EXACT cum values
(oracle differential) must keep the value column integral or snap it
to a dyadic grid first (the 2^-20 snap used throughout queries/), which
makes every fold order bit-identical. Max is a lattice join, so the
running max has no such caveat.

Lifetime note: nothing is persisted. The two subqueries and the main
pass each read the input plan; where it ends in an exchange (a
rollup upstream), AQE reuses the shuffle output instead of recomputing
it, and an input without one is computed by each of the three.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, BinaryType, StructType

MAX_BUCKETS = 256
SAMPLE_PER_BUCKET = 64


@dataclass(frozen=True)
class ScanSpec:
    """One scan over ``order``: column names, ascending, or ``"name
    desc"``. Make the order TOTAL (a unique tie-break last) for
    deterministic ranks. Every output is a column name; None skips it.

    - ``rank``: global row_number (long);
    - ``cum``: inclusive running sum of ``val`` (double; NULL adds 0);
    - ``max``: running max of ``val`` (double), over strictly preceding
      rows when ``exclusive`` (NULL for the global first row). NULL and
      NaN values are skipped; a NULL or +-inf result surfaces as NULL;
    - ``n`` / ``total``: global row count (long) / sum of ``val``
      (double) as constant columns;
    - ``rank_range=(lo, hi)``: keep only the rows of buckets whose ranks
      meet [lo, hi] -- a page consumer's pruning; surviving ranks are
      unchanged. Rank-only and single-spec, because it drops rows.
    """

    order: tuple[str, ...]
    rank: str | None = None
    val: str | None = None
    cum: str | None = None
    max: str | None = None
    exclusive: bool = False
    n: str | None = None
    total: str | None = None
    rank_range: tuple[int, int] | None = None


def global_scan(
    df: DataFrame,
    specs: Sequence[ScanSpec],
    *,
    num_buckets: int | None = None,
) -> DataFrame:
    """``df``'s columns plus every spec's outputs, computed by the
    bucketed in-plan scan (module docstring). All specs share the two
    subqueries, so batching specs over one frame plans no more of them
    than one spec. ``num_buckets`` defaults to the cluster's
    defaultParallelism and is capped at ``MAX_BUCKETS``. Building the
    frame runs no Spark job.
    """
    specs = list(specs)
    for s in specs:
        if s.rank_range is not None and (len(specs) > 1 or s.cum or s.max):
            raise ValueError("rank_range is rank-only and single-spec (it drops rows)")
        if (s.cum or s.max or s.total) and s.val is None:
            raise ValueError("cum, max and total need val")
    nb = min(max(2, num_buckets or df.sparkSession.sparkContext.defaultParallelism), MAX_BUCKETS)

    parsed = [_parse_order(df.schema, s.order) for s in specs]
    orders = list(dict.fromkeys(parsed))
    spec_order = [orders.index(o) for o in parsed]
    prefixes = [_prefix(df.schema, o) for o in orders]
    # one Column per subquery, so every use shares one planned subquery
    bnds = _boundaries(df, orders, prefixes, nb)

    def with_buckets(frame: DataFrame, js: Sequence[int]) -> DataFrame:
        # the boundary array is projected for the bucket ids and dropped
        # again, so it never rides an exchange
        if bnds is None or not any(prefixes[j] for j in js):
            return frame.withColumns({f"_bkt{j}": F.lit(0) for j in js})
        out = frame.select("*", bnds.alias("__scan_b"))
        return out.select(*frame.columns, *[_bucket(prefixes[j], j, nb).alias(f"_bkt{j}") for j in js])

    vals, maxv = [], []
    for s in specs:
        v = F.col(s.val).cast("double") if s.val else F.lit(0.0)
        vals.append(F.coalesce(v, F.lit(0.0)))
        # running max: NULL and NaN values mean "no value"
        maxv.append(F.when(~F.isnan(v), v) if s.max else F.lit(None).cast("double"))

    # subquery 2: every spec's per-bucket (count, sum, max) in one
    # inline+aggregate, folded into per-bucket exclusive offsets
    packed = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("m"),
                    F.col(f"_bkt{spec_order[i]}").alias("b"),
                    vals[i].alias("v"),
                    maxv[i].alias("x"),
                )
                for i in range(len(specs))
            ]
        )
    )
    per_bucket = (
        with_buckets(df, range(len(orders)))
        .select(packed)
        .groupBy("m", "b")
        .agg(F.sum(F.lit(1)).alias("c"), F.sum("v").alias("s"), F.max("x").alias("x"))
    )
    # the per-bucket rows (<= n_specs*nb) fold in one task: coalesce(1)
    # is narrow, so it saves the exchange a global aggregate would add
    rollup = (
        per_bucket.coalesce(1)
        .agg(
            *[
                F.sort_array(
                    F.collect_list(F.when(F.col("m") == i, F.struct("b", "c", "s", "x")))
                ).alias(f"r{i}")
                for i in range(len(specs))
            ]
        )
        .select(F.struct(*[_offsets(f"r{i}", nb).alias(f"s{i}") for i in range(len(specs))]))
        .scalar()
    )

    def at(i: int) -> Column:
        # spec i's offsets for the row's bucket, read from the projected
        # rollup
        return F.col("__scan_r")[f"s{i}"]["o"][F.col(f"_bkt{spec_order[i]}")]

    out = df
    added: set[int] = set()
    for i, s in enumerate(specs):
        j = spec_order[i]
        if j not in added:
            added.add(j)
            out = with_buckets(out, [j])
        if s.rank_range is not None:
            # only the covering buckets' rows enter the exchange (their
            # offsets are global, so surviving ranks are exact). The test
            # sits in a generator, not a Filter: Catalyst would push a
            # Filter below the projections and copy both subqueries into
            # its condition, then optimize every copy again.
            lo, hi = s.rank_range
            e = at(i)
            keep = F.when((e["r"] + 1 <= hi) & (e["r"] + e["c"] >= lo), F.array(F.lit(1)))
            out = (
                out.withColumn("__scan_r", rollup)
                .select("*", F.explode_outer(keep).alias("__scan_k"))
                .filter(F.col("__scan_k").isNotNull())
                .drop("__scan_r", "__scan_k")
            )
        w = Window.partitionBy(f"_bkt{j}").orderBy(
            *[F.col(c).desc() if d else F.col(c).asc() for c, d in orders[j]]
        )
        run: dict[str, Column] = {}
        if s.rank:
            run[f"__scan_rn{i}"] = F.row_number().over(w)
        if s.cum:
            run[f"__scan_cum{i}"] = F.sum(vals[i]).over(w.rowsBetween(Window.unboundedPreceding, 0))
        if s.max:
            frame = w.rowsBetween(Window.unboundedPreceding, -1 if s.exclusive else 0)
            run[f"__scan_max{i}"] = F.max(maxv[i]).over(frame)
        out = out.withColumns(run)

    # the rollup is projected once, after every window exchange
    out = out.withColumn("__scan_r", rollup)
    cols: dict[str, Column] = {}
    for i, s in enumerate(specs):
        if s.rank:
            cols[s.rank] = (at(i)["r"] + F.col(f"__scan_rn{i}")).cast("long")
        if s.cum:
            cols[s.cum] = at(i)["s"] + F.col(f"__scan_cum{i}")
        if s.max:
            folded = F.greatest(at(i)["x"], F.col(f"__scan_max{i}"))
            cols[s.max] = F.when(F.abs(folded) != F.lit(math.inf), folded).cast("double")
        if s.n:
            cols[s.n] = F.col("__scan_r")[f"s{i}"]["n"].cast("long")
        if s.total:
            cols[s.total] = F.col("__scan_r")[f"s{i}"]["t"].cast("double")
    return out.select(*df.columns, *[c.alias(name) for name, c in cols.items()])


def _parse_order(schema: StructType, order: Sequence[str]) -> tuple[tuple[str, bool], ...]:
    """``("x desc", "id")`` -> ``(("x", True), ("id", False))``; a
    column literally named ``"x desc"`` stays a column name."""
    out = []
    for o in order:
        name, _, d = o.rpartition(" ")
        if o not in schema.names and name and d.lower() in ("asc", "desc"):
            out.append((name, d.lower() == "desc"))
        else:
            out.append((o, False))
    return tuple(out)


def _prefix(schema: StructType, order: tuple[tuple[str, bool], ...]) -> list[tuple[str, bool]]:
    """Longest run of atomic leading order columns sharing the first
    column's direction -- the part of the order a boundary struct can
    compare in one engine comparison."""
    out: list[tuple[str, bool]] = []
    for c, d in order:
        t = schema[c].dataType
        if d != order[0][1] or not isinstance(t, AtomicType) or isinstance(t, BinaryType):
            break
        out.append((c, d))
    return out


def _boundaries(
    df: DataFrame,
    orders: list[tuple[tuple[str, bool], ...]],
    prefixes: list[list[tuple[str, bool]]],
    nb: int,
) -> Column | None:
    """Subquery 1: a struct whose ``o{j}`` field holds up to ``nb-1``
    distinct boundary structs over order j's prefix, evenly spaced in
    the sorted sample (so they follow row quantiles). The sample is the
    ``64*nb`` rows with the smallest (hash, prefix columns): a total
    order, so a re-executed subquery picks the same rows. None when no
    order has a prefix."""
    pcols = list(dict.fromkeys(c for p in prefixes for c, _ in p))
    if not pcols:
        return None
    hcols = list(dict.fromkeys(c for o in orders for c, _ in o))
    sample = df.orderBy(F.xxhash64(*hcols), *pcols).limit(SAMPLE_PER_BUCKET * nb)
    live = [j for j, p in enumerate(prefixes) if p]
    # Spark's struct order sorts the sample: nulls first, NaN last
    sorted_ = sample.agg(
        *[F.expr(f"sort_array(collect_list({_struct(prefixes[j])}))").alias(f"a{j}") for j in live]
    )

    def picks(j: int) -> Column:
        # tuples[i*len//nb] for i in 1..nb-1, deduplicated (an empty
        # sample yields NULLs, which array_compact drops)
        spaced = f"transform(sequence(1, {nb - 1}), i -> get(a{j}, int(i * size(a{j}) div {nb})))"
        return F.expr(f"array_distinct(array_compact({spaced}))").alias(f"o{j}")

    return sorted_.select(F.struct(*[picks(j) for j in live])).scalar()


def _bucket(prefix: list[tuple[str, bool]], j: int, nb: int) -> Column:
    """Bucket id = #boundaries below the row's prefix struct (above, for
    a descending prefix): 0..len(bnds), monotone along the order. One
    CASE term per possible boundary, read from the projected array
    (a missing one is NULL and counts 0). Built as SQL text: one py4j
    call instead of one per Column operation."""
    if not prefix:
        return F.lit(0)
    op, row = (">" if prefix[0][1] else "<"), _struct(prefix)
    terms = [f"CASE WHEN get(__scan_b.o{j}, {i}) {op} {row} THEN 1 ELSE 0 END" for i in range(nb - 1)]
    return F.expr(" + ".join(terms))


def _struct(prefix: list[tuple[str, bool]]) -> str:
    """SQL for the row's prefix struct (positional field names)."""
    fields = [f"'f{k}', `{c.replace('`', '``')}`" for k, (c, _) in enumerate(prefix)]
    return f"named_struct({', '.join(fields)})"


def _offsets(r: str, nb: int) -> Column:
    """Fold one spec's per-bucket ``(b, c, s, x)`` rows (column ``r``,
    sorted by bucket) into ``o``: per bucket id the exclusive rank
    offset ``r``, sum offset ``s``, max carry ``x`` (NULL: no earlier
    value) and the bucket's own count ``c``; plus the global count
    ``n`` and sum ``t``. One sequential fold in bucket order, as a
    scan would sum. SQL text, like ``_bucket``."""
    zero = "named_struct('b', k, 'c', 0L, 's', 0D, 'x', CAST(NULL AS DOUBLE))"
    dense = f"transform(sequence(0, {nb - 1}), k -> coalesce(get(filter({r}, e -> e.b = k), 0), {zero}))"
    entry = "named_struct('r', a.n, 's', a.t, 'x', a.m, 'c', e.c)"
    start = (
        "named_struct('o', CAST(array() AS ARRAY<STRUCT<r: BIGINT, s: DOUBLE, x: DOUBLE, c: BIGINT>>), "
        "'n', 0L, 't', 0D, 'm', CAST(NULL AS DOUBLE))"
    )
    step = (
        f"(a, e) -> named_struct('o', concat(a.o, array({entry})), 'n', a.n + e.c, 't', a.t + e.s, "
        "'m', CASE WHEN e.x IS NOT NULL AND (a.m IS NULL OR e.x > a.m) THEN e.x ELSE a.m END)"
    )
    return F.expr(f"aggregate({dense}, {start}, {step})")

