"""Skyline / Pareto-frontier operator (Borzsonyi et al., ICDE 2001):
the rows not dominated in a (minimize x, maximize y) trade-off -- the
"best price for at least this quality" readout every catalog/offer
analysis wants and SQL can only state as an O(n^2) NOT EXISTS.

Spark-first restatement: LOCAL-PRUNE THEN MERGE. Dominance is closed under
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
degrade the MERGE input toward n, which is also the output size (see
``pareto_frontier_2d``'s merge-task bound).

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

from pyspark.sql import DataFrame


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
    skyline can do better in one task. Exactness under a
    frontier that is a large fraction of n is pinned by
    tests/test_properties.py::test_skyline_anticorrelated_frontier."""
    schema = df.schema
    local = _frontier_pass(x, y)
    candidates = df.mapInArrow(local, schema)
    return candidates.coalesce(1).mapInArrow(local, schema)
