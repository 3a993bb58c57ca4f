"""Skyline / Pareto-frontier operator (Borzsonyi et al., ICDE 2001):
the rows not dominated in a (minimize x, maximize y) trade-off -- the
"best price for at least this quality" readout every catalog/offer
analysis wants and SQL can only state as an O(n^2) NOT EXISTS.

Spark-first restatement: LOCAL-PRUNE THEN MERGE, the same shape as
``operators/topk.py``'s grouped top-k. Dominance is closed under
subsets -- a row dominated inside one partition is dominated globally,
and a globally-undominated row is undominated in every subset that
contains it -- so each partition can drop its locally-dominated rows
with a tiny Arrow-batched sort+cummax pass, and the frontier of the
surviving candidates (computed the same way on one coalesced
partition) is EXACTLY the global frontier. No global sort, no
single-partition window over the full input, no O(n^2) join: the only
data that crosses the wire is the per-partition frontiers.

Scale shape: local frontiers are tiny for real distributions (the
frontier of n uniform 2-d points has ~H(n) = O(log n) expected size);
the merge stage sees at most sum(local frontier sizes) ~ parts *
O(log rows-per-part). Adversarial inputs (all points on one diagonal)
degrade the MERGE input toward n -- for that regime use
``pareto_frontier_2d_bucketed`` (r12): same exact result, but the
merge is replaced by one bucket-keyed shuffle plus an n_buckets-row
broadcast, so no single task ever holds the whole frontier.

Tie semantics (pinned by tests + the NOT-EXISTS oracle): dominance
requires (x <= , y >=) with at least ONE strict inequality, so exact
duplicates do not dominate each other -- duplicate frontier points all
survive. Rows with a null or NaN metric are dropped (they can neither
dominate nor be ranked), the same contract the pre-r11 pandas pass
applied implicitly.

r11: the passes run on ``mapInArrow`` (numpy on the two metric columns,
Arrow ``take`` for the survivors), not ``mapInPandas`` -- pass-through
columns keep decimal/timestamp/NaN fidelity instead of riding a pandas
float64 round trip, which conflates NaN with NULL.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _frontier_pass(x: str, y: str):
    """Arrow-batched (min x, max y) frontier of each partition: sort by
    (x asc, y desc), per-x-group ymax, keep groups whose ymax strictly
    exceeds the running max of cheaper groups, keep every row tying its
    group's ymax (duplicates don't dominate each other). Null/NaN
    metric rows are dropped."""

    def local(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        t = pa.Table.from_batches(chunks).combine_chunks()
        xv = t.column(x).to_numpy(zero_copy_only=False).astype("float64")
        yv = t.column(y).to_numpy(zero_copy_only=False).astype("float64")
        ok = np.flatnonzero(~(np.isnan(xv) | np.isnan(yv)))
        if len(ok) == 0:
            return
        order = ok[np.lexsort((-yv[ok], xv[ok]))]
        xs, ys = xv[order], yv[order]
        n = len(order)
        new = np.empty(n, dtype=bool)
        new[0] = True
        new[1:] = xs[1:] != xs[:-1]
        gid = np.cumsum(new) - 1
        gmax = ys[new]  # per-group ymax, in ascending-x order
        prev = np.empty(len(gmax))
        prev[0] = -np.inf
        np.maximum.accumulate(gmax[:-1], out=prev[1:])
        keep_group = gmax > prev
        keep_group[0] = True  # first group: nothing cheaper exists
        keep = keep_group[gid] & (ys == gmax[gid])
        out = t.take(np.sort(order[keep]))
        yield from out.to_batches()

    return local


def pareto_frontier_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Rows of ``df`` on the (min ``x``, max ``y``) Pareto frontier,
    all columns preserved (``x``/``y`` must be numeric; the metric
    comparison runs in float64, so int64 metrics beyond 2^53 lose
    distinctness — use doubles or rescale such keys). Two Arrow
    passes: per-partition local frontier, then the exact frontier of
    the gathered candidates on a single (small) partition.

    MERGE-TASK BOUND (contract, stated like
    ``attribution_markov_removal``'s cap): the second pass is
    ``coalesce(1)`` over the UNION OF LOCAL FRONTIERS, so the one
    merge task is sized by that union — for real distributions
    O(parts * log rows-per-part) rows, but for ANTI-CORRELATED data
    (x and y trade off along a diagonal) the true frontier, and hence
    the union, is Θ(n): the output itself is that large, so no exact
    skyline can do better in one task. For that regime use
    ``pareto_frontier_2d_bucketed`` — the same exact result with the
    merge distributed over a bucket-keyed shuffle. Exactness under a
    frontier that is a large fraction of n is pinned by
    tests/test_properties.py::test_skyline_anticorrelated_frontier."""
    schema = df.schema
    local = _frontier_pass(x, y)
    candidates = df.mapInArrow(local, schema)
    return candidates.coalesce(1).mapInArrow(local, schema)


def pareto_frontier_2d_bucketed(
    df: DataFrame, x: str, y: str, n_buckets: int = 256
) -> DataFrame:
    """EXACT (min ``x``, max ``y``) Pareto frontier with the merge
    DISTRIBUTED — the anti-correlated-scale form of
    ``pareto_frontier_2d`` (r12; closes that operator's merge-task
    bound). Same tie/null/NaN contract, same output rows.

    Why it is exact, not an approximation: bucket x into ``n_buckets``
    equal-width bins over the global [min, max]. For p in bucket b and
    q in bucket b' < b, q.x < p.x STRICTLY (q.x is below b's lower
    edge), so cross-bucket dominance reduces to q.y >= p.y — a running
    max of per-bucket ymax over STRICTLY earlier buckets. Same-bucket
    dominance is handled by the partition-local frontier pass after a
    bucket-keyed repartition (whole buckets are colocated, so every
    same-bucket dominator is in-partition). Later buckets can never
    dominate (their x is >= p's bucket's upper edge > p.x... >= p.x
    with > on the open side; in all cases not smaller, and equal-x
    cross-bucket cannot happen with strict bin edges).

    The running ymax is computed from the PRUNED candidates: a bucket's
    ymax row can only be pruned by an EARLIER bucket's row with y >=
    ymax, which keeps the running max (over buckets < c) unchanged —
    so one scan of the data suffices.

    Plan: one 1-row span broadcast (no driver action), one hash
    shuffle on the bucket key, one n_buckets-row rollup whose running
    max rides a window over a FIXED-size frame (bounded by
    construction, the window_lint whitelist category), broadcast back.
    No task ever holds more than its buckets' share of the frontier.
    Degenerate span (all x equal) collapses to one bucket — a single
    partition holds the data, matching the coalesce(1) form's cost."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    schema = df.schema
    local = _frontier_pass(x, y)

    xd = F.col(x).cast("double")
    span = df.agg(F.min(xd).alias("_lo"), F.max(xd).alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
    bkt = F.when(
        (F.col("_hi") > F.col("_lo")) & xd.isNotNull() & ~F.isnan(xd),
        F.least(F.floor((xd - F.col("_lo")) / width), F.lit(n_buckets - 1)),
    ).otherwise(F.lit(0))
    bucketed = (
        df.join(F.broadcast(span))
        .withColumn("_bkt", bkt.cast("long"))
        .drop("_lo", "_hi")
    )
    pass_schema = bucketed.schema
    # consumed twice (running-ymax rollup + the final filter join) --
    # persist so the scan+prune runs once, the neardup-signatures
    # pattern; MEMORY_AND_DISK holds only the pruned candidates
    from testlog_etl_spark.util import persist_once

    candidates = persist_once(bucketed.repartition("_bkt").mapInArrow(local, pass_schema))

    rollup = candidates.groupBy("_bkt").agg(F.max(F.col(y).cast("double")).alias("_bymax"))
    w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    prev = rollup.select("_bkt", F.max("_bymax").over(w).alias("_prev"))
    out = (
        candidates.join(F.broadcast(prev), "_bkt")
        .filter(F.col("_prev").isNull() | (F.col(y).cast("double") > F.col("_prev")))
        .drop("_bkt", "_prev")
    )
    return out.select(*[f.name for f in schema.fields])
