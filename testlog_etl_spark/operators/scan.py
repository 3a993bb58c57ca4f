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
join:

1. boundaries: ONE bounded driver job takes the ``64*nb`` rows with the
   smallest ``xxhash64`` of the order tuple (a uniform row sample that
   does not favour early partitions) and picks ``nb-1`` evenly spaced
   boundary tuples per order, so boundaries follow row quantiles;
2. bucket id: ``#{b < struct(prefix)}`` (``>`` for a descending
   prefix), where the prefix is the longest run of atomic leading order
   columns sharing the first column's direction. A count of boundaries
   below a value is monotone in the value for ANY boundary set, and
   Spark's struct ordering places null, NaN and +-0 exactly as its sort
   does, so buckets are order-contiguous by construction: boundaries
   only shape skew, never results. A non-atomic leading column gives
   one bucket (ranks stay exact);
3. rollup: ONE explode+aggregate driver job computes every spec's
   per-bucket count, sum and max (<= n_specs*nb rows), folded into
   exclusive offsets and prefix-max carries as LITERAL arrays;
4. per row: offset[bucket] + row_number / running sum / running max
   over ``Window.partitionBy(bucket).orderBy(order)`` -- one hash
   exchange per distinct order (specs sharing an order share one
   bucket column and one window, which CollapseWindow plans once).

The bucket count is ``min(max(2, num_buckets or defaultParallelism),
256)``: it grows with the cluster but is capped, so the plan literals
(<= 255 boundary structs per order) and the sample collect (<= 16384
rows) stay bounded on any cluster.

FP note: the running sum associates as (bucket offset) + an
intra-bucket sequential fold. Callers that need ENGINE-EXACT cum values
(oracle differential) must keep the value column integral or snap it
to a dyadic grid first (the 2^-20 snap used throughout queries/), which
makes every fold order bit-identical. Max is a lattice join, so the
running max has no such caveat.

Lifetime note: the input is persisted so the two build jobs and the
main pass compute the upstream once; ``persist_handles`` receives it so
callers can ``unpersist()`` after their action. Boundaries and offsets
are literals in the returned plan, so a recompute after an unpersist
gives the same answer.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, BinaryType, StructType

from testlog_etl_spark.util import const_array, persist_once

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
    persist_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """``df``'s columns plus every spec's outputs, computed by the
    bucketed in-plan scan (module docstring). All specs share the two
    bounded build jobs, so batching specs over one frame costs no more
    driver jobs than one spec. ``num_buckets`` defaults to the
    cluster's defaultParallelism and is capped at ``MAX_BUCKETS``;
    ``persist_handles`` receives the one persisted frame (the input).
    """
    specs = list(specs)
    for s in specs:
        if s.rank_range is not None and (len(specs) > 1 or s.cum or s.max):
            raise ValueError("rank_range is rank-only and single-spec (it drops rows)")
        if (s.cum or s.max or s.total) and s.val is None:
            raise ValueError("cum, max and total need val")
    nb = min(max(2, num_buckets or df.sparkSession.sparkContext.defaultParallelism), MAX_BUCKETS)
    src = persist_once(df)
    if persist_handles is not None:
        persist_handles.append(src)

    parsed = [_parse_order(df.schema, s.order) for s in specs]
    orders = list(dict.fromkeys(parsed))
    spec_order = [orders.index(o) for o in parsed]
    prefixes = [_prefix(df.schema, o) for o in orders]

    # bounded build job 1: ONE hash-ordered sample of every order's
    # prefix columns, LIMIT 64*nb rows (a sparse or empty sample only
    # merges buckets)
    pcols = list(dict.fromkeys(c for p in prefixes for c, _ in p))
    hcols = list(dict.fromkeys(c for o in orders for c, _ in o))
    sample = (
        src.select(F.xxhash64(*hcols).alias("__scan_h"), *pcols)
        .orderBy("__scan_h")
        .limit(SAMPLE_PER_BUCKET * nb)
        .collect()
        if pcols
        else []
    )
    bnds = [_boundaries(sample, pcols, p, nb) for p in prefixes]
    bkts = [_bucket(df.schema, p, b) for p, b in zip(prefixes, bnds)]

    # bounded build job 2: every spec's per-bucket (count, sum, max) in
    # one explode+aggregate pass (<= n_specs*nb rows to the driver)
    vals, maxv = [], []
    for s in specs:
        v = F.col(s.val).cast("double") if s.val else F.lit(0.0)
        vals.append(F.coalesce(v, F.lit(0.0)))
        # running max: NULL and NaN values mean "no value"
        maxv.append(F.when(~F.isnan(v), v) if s.max else F.lit(None).cast("double"))
    packed = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("m"),
                    bkts[spec_order[i]].alias("b"),
                    vals[i].alias("v"),
                    maxv[i].alias("x"),
                )
                for i in range(len(specs))
            ]
        )
    ).alias("_e")
    rollup = (
        src.select(packed)
        .select("_e.*")
        .groupBy("m", "b")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("v").alias("s"), F.max("x").alias("x"))
        .collect()
    )

    out = src
    out_names: list[str] = []
    added: set[int] = set()
    for i, s in enumerate(specs):
        j = spec_order[i]
        bcol = f"_bkt{j}"
        if j not in added:
            added.add(j)
            out = out.withColumn(bcol, bkts[j])
        k = len(bnds[j]) + 1
        roff, soff, carry = [0] * k, [0.0] * k, [math.nan] * k
        n_acc, s_acc, m_acc = 0, 0.0, None
        spans: list[tuple[int, int, int]] = []  # (bucket, first rank, last rank)
        for r in sorted((r for r in rollup if r["m"] == i), key=lambda r: r["b"]):
            b = r["b"]
            roff[b], soff[b] = n_acc, s_acc
            carry[b] = math.nan if m_acc is None else m_acc  # NaN: no earlier value
            spans.append((b, n_acc + 1, n_acc + r["c"]))
            n_acc += r["c"]
            s_acc += r["s"] or 0.0
            if r["x"] is not None and (m_acc is None or r["x"] > m_acc):
                m_acc = r["x"]
        if s.rank_range is not None:
            lo, hi = s.rank_range
            keep = [b for b, first, last in spans if first <= hi and last >= lo]
            # only the covering buckets' rows enter the exchange (their
            # offsets are global literals, so surviving ranks are exact)
            out = out.filter(F.col(bcol).isin(keep) if keep else F.lit(False))
        w = Window.partitionBy(bcol).orderBy(
            *[F.col(c).desc() if d else F.col(c).asc() for c, d in orders[j]]
        )
        idx = F.col(bcol) + F.lit(1)  # element_at is 1-based; buckets start at 0
        cols: dict[str, Column] = {}
        if s.rank:
            rn = F.row_number().over(w)
            cols[s.rank] = (F.element_at(const_array(roff), idx) + rn).cast("long")
        if s.cum:
            run = F.sum(vals[i]).over(w.rowsBetween(Window.unboundedPreceding, 0))
            cols[s.cum] = F.element_at(const_array(soff), idx) + run
        if s.max:
            frame = w.rowsBetween(Window.unboundedPreceding, -1 if s.exclusive else 0)
            c = F.element_at(const_array(carry), idx)
            folded = F.greatest(F.when(~F.isnan(c), c), F.max(maxv[i]).over(frame))
            cols[s.max] = F.when(F.abs(folded) != F.lit(math.inf), folded).cast("double")
        if s.n:
            cols[s.n] = F.lit(n_acc).cast("long")
        if s.total:
            cols[s.total] = F.lit(s_acc).cast("double")
        out = out.withColumns(cols)
        out_names += cols
    return out.select(*df.columns, *out_names)


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


def _sort_key(t: tuple) -> tuple:
    # only PICKS evenly spaced boundaries (every comparison that places a
    # row runs in-engine): nulls first, NaN after every other value
    return tuple(
        (0,) if v is None else (2,) if isinstance(v, float) and v != v else (1, v) for v in t
    )


def _boundaries(sample: list, pcols: list[str], prefix: list[tuple[str, bool]], nb: int) -> list[tuple]:
    """Up to ``nb-1`` distinct boundary tuples over ``prefix``, evenly
    spaced in the sorted sample multiset (so they follow row quantiles)."""
    if not prefix or not sample:
        return []
    pos = [pcols.index(c) + 1 for c, _ in prefix]  # +1: skip the hash
    tuples = sorted((tuple(r[i] for i in pos) for r in sample), key=_sort_key)
    picked = {}
    for i in range(1, nb):
        t = tuples[i * len(tuples) // nb]
        picked[_sort_key(t)] = t
    return list(picked.values())


def _bucket(schema: StructType, prefix: list[tuple[str, bool]], bnds: list[tuple]) -> Column:
    """Bucket id = #boundaries below the row's prefix struct (above, for
    a descending prefix): 0..len(bnds), monotone along the order."""
    if not bnds:
        return F.lit(0)
    desc = prefix[0][1]
    row = F.struct(*[F.col(c).alias(c) for c, _ in prefix])
    n = F.lit(0)
    for t in bnds:
        b = F.struct(
            *[F.lit(v).cast(schema[c].dataType).alias(c) for (c, _), v in zip(prefix, t)]
        )
        n = n + F.when((b > row) if desc else (b < row), 1).otherwise(0)
    return n
