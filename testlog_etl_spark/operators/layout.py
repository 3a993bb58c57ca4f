"""Data-layout operators: Z-order (Morton) clustering for 2-D data
skipping, and run-length compressibility accounting for sort-order
selection -- the two knobs that decide how much of a 100 TB table a
query has to READ before any operator runs.

Z-order: interleaving the bits of two quantized dimensions gives a 1-D
sort key whose contiguous ranges are 2-D tiles, so range-partitioning
files by z-value keeps BOTH dimensions' per-file min/max stats tight --
a point/range predicate on either dimension then prunes most files,
where single-column clustering only serves one dimension. The z-value
itself is pure codegen bit arithmetic (shiftleft/or over a fixed bit
budget), engine-portable and therefore exactly oracle-able.

RLE runs: parquet/ORC encode a column as (value, repeat-count) runs,
so bytes-on-disk for low-cardinality columns is proportional to the
RUN COUNT, not the row count -- which the writer's sort order controls
entirely. Counting runs under a candidate ordering is a global
sequential dependency (value != previous value); the distributed form
is a hierarchical scan: range-partition on the ordering, count
intra-partition boundaries with one Arrow pass, and stitch the
(partition-count-bounded) edge values on the driver.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton code of two already-quantized non-negative ints, ``bits``
    bits each: bit b of x lands at 2b, of y at 2b+1. Delegates to the
    write-path implementation (``testlog_etl_spark.layout.zorder_key2``,
    unrolled codegen shift/or) so the query-side readout and the
    clustered-write sort key can never use different bit layouts;
    ``zorder_sql`` below is its generated DuckDB twin."""
    from testlog_etl_spark.layout import zorder_key2

    return zorder_key2(x, y, bits=bits)


def zorder_sql(x_expr: str, y_expr: str, bits: int = 8) -> str:
    """The DuckDB twin of ``zorder_value`` as one SQL expression."""
    terms = [
        f"(({x_expr}) // {1 << b} % 2) * {1 << (2 * b)}"
        f" + (({y_expr}) // {1 << b} % 2) * {1 << (2 * b + 1)}"
        for b in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def hilbert_d(x: int, y: int, bits: int = 8) -> int:
    """Pure-Python reference: Hilbert-curve index of an already-quantized
    (x, y) point on the 2^bits x 2^bits grid. The *masked* formulation
    (low parts extracted each step, invariant x,y in [0, 2s)) is used so
    the Spark/DuckDB twins below never see negative intermediates; it is
    exhaustively verified equal to the classic Wikipedia xy2d for orders
    1..8 in tests/test_layout_hilbert.py."""
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = 1 if x >= s else 0
        ry = 1 if y >= s else 0
        d += s * s * ((3 * rx) ^ ry)
        xl, yl = x - rx * s, y - ry * s
        if ry == 1:
            x, y = xl, yl
        elif rx == 0:
            x, y = yl, xl
        else:
            x, y = s - 1 - yl, s - 1 - xl
    return d


def _hilbert_step_exprs(s: int, x: str, y: str, d: str) -> tuple[str, str, str]:
    """One Hilbert fold as three SQL expressions over column names
    (x, y, d) -- the same text parses in Spark SQL and DuckDB, which is
    what makes the operator exactly oracle-able. The quadrant code
    (3*rx)^ry is spelled as a CASE so no engine-specific xor is needed."""
    rx = f"(CASE WHEN {x} >= {s} THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN {y} >= {s} THEN 1 ELSE 0 END)"
    quad = (
        f"(CASE WHEN {x} < {s} AND {y} < {s} THEN 0 "
        f"WHEN {x} < {s} THEN 1 WHEN {y} >= {s} THEN 2 ELSE 3 END)"
    )
    xl, yl = f"({x} - {rx} * {s})", f"({y} - {ry} * {s})"
    nd = f"{d} + {s * s} * {quad}"
    nx = f"CASE WHEN {y} >= {s} THEN {xl} WHEN {x} < {s} THEN {yl} ELSE {s} - 1 - {yl} END"
    ny = f"CASE WHEN {y} >= {s} THEN {yl} WHEN {x} < {s} THEN {xl} ELSE {s} - 1 - {xl} END"
    return nx, ny, nd


def with_hilbert(df: DataFrame, x: Column, y: Column, bits: int = 8, out: str = "hilbert_d") -> DataFrame:
    """Append the Hilbert index of two quantized non-negative int columns.

    Why DataFrame-level (vs ``zorder_value``'s single Column): each fold
    references the previous (x, y) several times, so a single expression
    tree grows ~3^bits nodes. Chained projections keep it linear -- each
    fold is one Project whose aliases the next fold references, and
    Spark's CollapseProject does NOT inline them (it refuses to duplicate
    non-cheap expressions, SPARK-36718), so the plan stays a short ladder
    of named locals inside one WholeStageCodegen span. No shuffle, no UDF.

    The same fold ladder written by files is what a Hilbert-clustered
    writer sorts on; like Z-order it linearizes 2-D space, but with
    unit-step adjacency (consecutive keys are grid neighbors), which
    keeps per-file bounding boxes strictly tighter on average -- the
    reason Delta/Iceberg offer Hilbert above Z-order at scale."""
    stepped = df.withColumn("_hx", x.cast("long")).withColumn("_hy", y.cast("long")).withColumn(
        out, F.lit(0).cast("long")
    )
    for i in range(bits - 1, -1, -1):
        nx, ny, nd = _hilbert_step_exprs(1 << i, "_hx", "_hy", out)
        others = [c for c in stepped.columns if c not in ("_hx", "_hy", out)]
        stepped = stepped.select(
            *others,
            F.expr(nx).alias("_hx"),
            F.expr(ny).alias("_hy"),
            F.expr(nd).alias(out),
        )
    return stepped.drop("_hx", "_hy")


def hilbert_sql_ctes(
    source_sql: str, x_col: str, y_col: str, bits: int = 8, keep: str = "", out: str = "hilbert_d"
) -> str:
    """DuckDB twin of ``with_hilbert``: a chain of CTEs, one per fold,
    starting from ``source_sql`` (which must expose ``x_col``/``y_col``
    and any ``keep`` columns). Returns the full WITH prefix; the caller
    selects from the final CTE ``h{bits}``."""
    keep_sql = f"{keep}, " if keep else ""
    parts = [f"h0 AS (SELECT {keep_sql}{x_col} AS _hx, {y_col} AS _hy, 0 AS {out} FROM ({source_sql}))"]
    for step, i in enumerate(range(bits - 1, -1, -1), start=1):
        nx, ny, nd = _hilbert_step_exprs(1 << i, "_hx", "_hy", out)
        parts.append(
            f"h{step} AS (SELECT {keep_sql}({nx}) AS _hx, ({ny}) AS _hy, ({nd}) AS {out} FROM h{step - 1})"
        )
    return "WITH " + ",\n".join(parts)


def rle_runs(
    df: DataFrame,
    order_by: Sequence[Column],
    cols: Sequence[str],
    num_parts: int = 32,
) -> dict[str, int]:
    """Exact run counts of each of ``cols`` when the table is laid out
    in ``order_by`` order (callers make the order total for a
    deterministic answer). One full-data range shuffle; the Arrow pass
    emits ONE summary row per partition (runs per column + the
    partition's first/last values), and the driver stitches boundaries
    -- collect size is bounded by the partition count, never the data.
    """
    cols = list(cols)
    order_by = list(order_by)
    # measured columns ride along as string casts under reserved names;
    # the ordering expressions (possibly .desc() sort orders) keep
    # operating on the original columns and never get projected
    proj = df.select(
        "*", *[F.col(c).cast("string").alias(f"_m_{c}") for c in cols]
    )
    ranged = (
        proj.repartitionByRange(num_parts, *order_by)
        .sortWithinPartitions(*order_by)
        .select(
            F.spark_partition_id().alias("_pid"),
            *[F.col(f"_m_{c}").alias(c) for c in cols],
        )
    )

    fields = ["_pid"]
    for c in cols:
        fields += [f"runs_{c}", f"first_{c}", f"last_{c}"]
    out_schema = ", ".join(
        f"`{f}` long" if f.startswith(("runs_", "_pid")) else f"`{f}` string"
        for f in fields
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # streamed batch-by-batch with a carry value per column, so the
        # task never materializes its whole (sorted) partition at once
        pid: int | None = None
        counts = dict.fromkeys(cols, 0)
        first: dict[str, object] = {}
        last: dict[str, object] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            for c in cols:
                s = pdf[c].fillna("\x00null")  # sentinel: NULL runs count
                changes = int((s != s.shift(1)).sum())  # first row counts
                if c in last and s.iloc[0] == last[c]:
                    changes -= 1  # batch's first value continues prior run
                counts[c] += changes
                if c not in first:
                    first[c] = s.iloc[0]
                last[c] = s.iloc[-1]
        if pid is None:
            return
        row: dict[str, object] = {"_pid": pid}
        for c in cols:
            row[f"runs_{c}"] = counts[c]
            row[f"first_{c}"] = first[c]
            row[f"last_{c}"] = last[c]
        yield pd.DataFrame([row])

    parts = sorted(
        (r.asDict() for r in ranged.mapInPandas(summarize, out_schema).collect()),
        key=lambda r: r["_pid"],
    )
    totals = {c: 0 for c in cols}
    prev_last: dict[str, object] = {}
    for p in parts:
        for c in cols:
            totals[c] += p[f"runs_{c}"]
            # the partition's first value continues the previous run
            if prev_last.get(c) is not None and p[f"first_{c}"] == prev_last[c]:
                totals[c] -= 1
        for c in cols:
            prev_last[c] = p[f"last_{c}"]
    return totals
