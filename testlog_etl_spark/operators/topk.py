"""Grouped top-k that survives giant groups.

The standard `row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`
formulation shuffles EVERY row to its group's partition and sorts the
whole group in ONE task just to keep k rows: at 100 TB a hot group is a
straggler or an OOM, and the exchange moves the corpus. A single-shot
aggregate (`slice(sort_array(collect_list(..)), 1, k)`) is no better at
scale: Spark does not truncate collect_list partial state, so the
map-side partials carry every row (as lists) through the exchange and
the final state materializes the whole group on one reducer.

The scalable shape is prune-then-merge:

1. **Local prune, zero shuffle**: an Arrow-batched `mapInArrow` pass
   keeps each batch's top-k per group (Arrow sort_indices + numpy
   group-boundary ranks -- no pandas round trip, so pass-through
   columns keep decimal/timestamp/NaN fidelity: a pandas float64 round
   trip conflates NaN with NULL). Output per batch is <= k rows per group seen in
   that batch -- the only Python in the operator, O(batch log batch),
   and exact: a row outside its batch's local top-k cannot be in the
   global top-k. (A float group KEY containing NaN splits into
   per-row groups locally -- Arrow compares NaN != NaN -- which only
   makes the prune keep a superset; the merge's groupBy normalizes
   NaN keys equal, so the final answer is unchanged.)
2. **Bounded merge, one shuffle**: groupBy(g) with
   slice(sort_array(collect_list), 1, k) over the pruned stream. The
   exchange now carries <= k x partitions rows per group, and the final
   per-group state is <= k x partitions structs -- bounded by the
   CLUSTER, not the data.

Determinism: both stages order by (value, id), so the kept set and its
ranks are unique under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    id_col: str,
    k: int,
    descending: bool = True,
) -> DataFrame:
    """Top ``k`` rows per group by ``order_col`` (ties broken by
    ``id_col`` ascending; null order values sort LAST in either
    direction, matching the window form's desc-nulls-last). Null group
    keys form their own group, as in Spark's groupBy.

    CONTRACT: a NaN order value ranks WITH the nulls (it is nullified
    up front) -- pinning the behavior the pre-r11 pandas prune produced
    by accident (pandas has one missing marker), so the prune order and
    the merge order agree without depending on either engine's
    NaN-vs-null collation.
    """
    cols = [*group_cols, id_col]
    oc = F.col(order_col)
    slim = df.select(
        *cols,
        F.when(F.isnan(oc), F.lit(None)).otherwise(oc).alias(order_col)
        if isinstance(df.schema[order_col].dataType, (DoubleType, FloatType))
        else oc,
    )
    schema = slim.schema
    kk = int(k)
    asc = not descending

    sort_dirs = [(g, "ascending") for g in group_cols] + [
        (order_col, "ascending" if asc else "descending"),
        (id_col, "ascending"),
    ]

    def prune(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows == 0:
                continue
            t = pa.Table.from_batches([b])
            # nulls at_end in either direction = pandas na_position
            # 'last' = the merge stage's _isnull-flag ordering
            t = t.take(pc.sort_indices(t, sort_keys=sort_dirs, null_placement="at_end"))
            n = t.num_rows
            new = np.zeros(n, dtype=bool)
            new[0] = True
            for g in group_cols:
                col = t.column(g).combine_chunks()
                a, p = col.slice(1), col.slice(0, n - 1)
                # null-safe neighbor inequality: null == null is SAME
                # group (Spark groupBy semantics)
                neq = pc.fill_null(pc.not_equal(a, p), False).to_numpy(zero_copy_only=False)
                na = pc.is_null(a).to_numpy(zero_copy_only=False)
                np_ = pc.is_null(p).to_numpy(zero_copy_only=False)
                new[1:] |= neq.astype(bool) | (na.astype(bool) ^ np_.astype(bool))
            starts = np.flatnonzero(new)
            gid = np.cumsum(new) - 1
            rank = np.arange(n) - starts[gid]
            out = t.take(np.flatnonzero(rank < kk))
            yield from out.to_batches()

    pruned = slim.mapInArrow(prune, schema)
    sort_key = (-F.col(order_col)).alias("_neg") if descending else F.col(order_col).alias("_neg")
    # leading null flag: NULL order values must lose to every real value
    # (sort_array would otherwise place null-first-field structs FIRST)
    item = F.struct(
        F.col(order_col).isNull().cast("int").alias("_isnull"),
        sort_key,
        F.col(id_col).alias("_id"),
        F.col(order_col).alias("_v"),
    )
    topk = F.slice(F.sort_array(F.collect_list(item)), 1, kk)
    return (
        pruned.groupBy(*group_cols)
        .agg(topk.alias("_top"))
        .select(*group_cols, F.posexplode("_top").alias("_rank0", "_row"))
        .select(
            *group_cols,
            (F.col("_rank0") + 1).cast("int").alias("rank"),
            F.col("_row._id").alias(id_col),
            F.col("_row._v").alias(order_col),
        )
    )
