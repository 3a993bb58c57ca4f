"""Grouped top-k: the one place that fixes the ranking policy.

`row_number() OVER (PARTITION BY g ORDER BY v) <= k` is the whole
operator. Since Spark 3.5 Catalyst plans it as `WindowGroupLimit
Partial` before the group Exchange and `Final` after it, so each map
task ships at most k rows per group and no group is sorted whole in one
task. This module exists so every caller ranks NaN, nulls and ties the
same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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
    """Top ``k`` rows per group by ``order_col`` as
    ``(*group_cols, rank, id_col, order_col)`` with an int ``rank``
    from 1. Ties break by ``id_col`` ascending; null order values sort
    LAST in either direction. Null group keys form their own group, as
    in Spark's groupBy.

    CONTRACT: a NaN order value ranks WITH the nulls (it is nullified
    up front, and comes out as null), so the policy does not depend on
    the engine's NaN collation.
    """
    oc = F.col(order_col)
    if isinstance(df.schema[order_col].dataType, (DoubleType, FloatType)):
        oc = F.when(~F.isnan(oc), oc)
    slim = df.select(*group_cols, id_col, oc.alias(order_col))
    v = F.col(order_col)
    w = Window.partitionBy(*group_cols).orderBy(
        v.desc_nulls_last() if descending else v.asc_nulls_last(),
        F.col(id_col).asc(),
    )
    return (
        slim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(*group_cols, "rank", id_col, order_col)
    )
