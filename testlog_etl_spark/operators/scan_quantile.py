"""Exact distributed quantiles by rank selection (the scale-safe twin
of Spark's exact ``percentile()`` aggregate).

``percentile()`` / ``median()`` (exact, sort-based) buffer EVERY group
value in their aggregation state: the partial buffers ride the shuffle
at full column width and each group's final merge lands on ONE reducer
— measured 80 KB/shuffle-record on ``stats_levene_test`` at sf0.1
before the r09 rewire (tools/shuffle_audit.py); at 100 TB a group's
buffer IS the group. ``percentile_approx`` bounds the state but is not
exact, so it cannot back a hash-compared oracle.

``group_quantiles_exact`` computes the SAME values with rollup-sized
exchanges and NO driver-side materialization (r10; the r09 version
collected one row per group and walked offsets on the driver, which
made "key domain must be bounded" a load-bearing docstring contract —
the JX runner routes arbitrary user group keys here, so the contract
is now a theorem instead):

1. a per-(key, value) count rollup;
2. one global cumulative count over (key asc, value asc)
   (``operators/scan.py::global_scan`` -- bucket-keyed, no per-group
   concentration anywhere);
3. per-group rank offsets and sizes from a group-rollup aggregate of
   that scan: a group's rows are contiguous in the scan order, so its
   exclusive offset is its smallest (cum − count). The scan sorts with
   Spark's asc-nulls-first (NaN-last) order, so the offsets index the
   value order exactly, for any key type and any key-domain
   cardinality;
4. per-(group, quantile) selection rows derived column-wise from the
   offset frame (``explode`` of a literal array of ``(q_i, q_v)``
   structs carrying explicit quantile indices — the floor/coefficient
   arithmetic runs in Spark's IEEE doubles, the same ops the r09
   driver walk did in Python floats);
5. an equi-join (null-safe) of the ≤2 covering value rows per
   (group, quantile) — AQE broadcasts the selection side when the
   group domain is small and falls back to a shuffled join when it is
   not, which is exactly the desired behavior at both scales.

Counts are integer-valued doubles throughout, so every cumulative sum
and offset subtraction is exact regardless of fold association.

Bit-identical to both engines, including the interpolation: Spark's
``percentile`` and DuckDB's ``quantile_cont`` both compute position
``p = q*(n-1)`` and interpolate with the SYMMETRIC form
``v[⌈p⌉]·(p-⌊p⌋) + v[⌊p⌋]·(⌈p⌉-p)``, which rounds differently from
the naive ``lo + frac·(hi-lo)`` — e.g. q=0.9 over {1.0, 3.0} is
2.8000000000000003 under both engines, 2.8 naive. Fuzzed against both
in ``tests/test_properties.py``.

NULL values are ignored (``percentile`` semantics); a group with only
NULLs yields NO row (vs percentile's NULL row) — callers that need the
NULL row should left-join this result back to the key rollup.

Lifetime: nothing is persisted and building the frame runs no Spark
job (the scan's boundaries and offsets are scalar subqueries).

Reference parity note: the reference's row-at-a-time engine sorts each
group in memory for its percentile aggregate (SURVEY.md §2.3 A7); this
module is the Spark-first restatement for grains that do not fit one
node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from testlog_etl_spark.operators.scan import ScanSpec, global_scan


def _expr_key(vcol: Column) -> str:
    """Dedup key for a value expression: the RESOLVED EXPRESSION TEXT,
    not the Column object identity. ``repr(vcol._jc)`` (r09) was py4j's
    ``JavaObject id=oN`` — unique per Column OBJECT, so two Columns
    built from the same select spec never merged and each paid its own
    scan (r09 advisor). ``toString()`` renders the expression tree, so
    identical expressions share one melt slot and differently-aliased
    twins stay conservatively separate."""
    jc = getattr(vcol, "_jc", None)
    if jc is not None:
        try:
            return jc.toString()
        except Exception:  # pragma: no cover - py4j hiccup
            pass
    return str(vcol)


def attach_group_quantiles(
    src: DataFrame,
    base: DataFrame,
    key_cols: Sequence[Column],
    key_names: Sequence[str],
    specs: Sequence[tuple[str, Column, float]],
    num_parts: int = 32,
) -> DataFrame:
    """Left-join rank-selection quantiles onto ``base`` (one row per
    group, its key columns already named ``key_names``). ``src`` is the
    pre-aggregation frame; ``key_cols`` re-derive the group keys on it.
    ``specs`` are ``(out_name, value column, q)``. Empty ``specs``
    returns ``base`` unchanged.

    Lazy like the underlying ``group_quantiles_exact``: building the
    returned DataFrame runs no Spark job and persists nothing.

    ALL specs share ONE scan (r10): the distinct value expressions are
    melted into ``(group key, expr id, value)`` rows and a single
    ``group_quantiles_exact`` over the melted frame computes every
    requested quantile — k value expressions cost one range exchange,
    not k (the r09 version ran one full scan per distinct expression).
    The melt multiplies rollup rows by the number of DISTINCT
    expressions, which is bounded by the select-clause length — a
    query-shape constant, never a data-scale factor.

    The join back is null-safe so NULL-key groups keep their values,
    and a group whose values are all NULL for some expression gets NULL
    for that expression's outputs — exactly ``percentile()``'s answer.
    """
    if not specs:
        return base
    exprs: list[Column] = []
    expr_ids: dict[str, int] = {}
    spec_map: list[tuple[str, int, float]] = []
    for name, vcol, q in specs:
        k = _expr_key(vcol)
        if k not in expr_ids:
            expr_ids[k] = len(exprs)
            exprs.append(vcol)
        spec_map.append((name, expr_ids[k], float(q)))
    key_names = list(key_names)

    # the union of requested quantiles is computed for EVERY expression
    # (cheap: extra quantiles only add selection rows, never scan work)
    qs_union = sorted({q for _, _, q in spec_map})
    q_idx = {q: i for i, q in enumerate(qs_union)}
    qouts = [f"__q{i}" for i in range(len(qs_union))]

    melted = src.select(
        *[c.alias(n) for c, n in zip(key_cols, key_names)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cid).alias("__cid"),
                        vcol.cast("double").alias("__qval"),
                    )
                    for cid, vcol in enumerate(exprs)
                ]
            )
        ).alias("__m"),
    ).select(*key_names, F.col("__m.__cid").alias("__cid"), F.col("__m.__qval").alias("__qval"))

    qdf = group_quantiles_exact(
        melted,
        key_names + ["__cid"],
        "__qval",
        qs_union,
        qouts,
        num_parts=num_parts,
    )

    # fold (group, expr id) rows back to one row per group, one output
    # column per spec (a tiny agg over the already-reduced frame)
    aggs = [
        F.max(F.when(F.col("__cid") == cid, F.col(qouts[q_idx[q]]))).alias(name)
        for name, cid, q in spec_map
    ]
    qg = qdf.groupBy(*[F.col(k) for k in key_names]).agg(*aggs)

    for k in key_names:
        qg = qg.withColumnRenamed(k, f"__qk_{k}")
    cond = None
    for k in key_names:
        c = F.col(k).eqNullSafe(F.col(f"__qk_{k}"))
        cond = c if cond is None else (cond & c)
    return base.join(qg, cond, "left").drop(*[f"__qk_{k}" for k in key_names])


def group_quantiles_exact(
    df: DataFrame,
    key: str | Sequence[str],
    val: str,
    qs: Sequence[float],
    outs: Sequence[str],
    num_parts: int = 32,
) -> DataFrame:
    """One row per group with one DOUBLE column per requested quantile
    (``outs`` names them), each bit-identical to
    ``percentile(val, q)`` / ``quantile_cont(val, q)``. Fully
    distributed (r10): BOTH the key domain and the value grain may
    scale freely — only ``(key, value, count)`` rollup rows cross the
    value exchange, only one row per group crosses the offset exchange,
    and nothing data-sized ever lands on the driver.

    ``key`` may be one column name or a sequence (composite group key).
    NULL group keys are first-class (Spark's asc nulls-first order in
    the scan; null-safe selection join), and NaN float keys are fine
    too — the offsets come from the same engine ordering, so the r09
    driver-walk restriction ("float keys must not contain NaN") is
    gone along with the walk.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if len(qs) != len(outs):
        raise ValueError("qs and outs must have the same length")
    pv = (
        df.filter(F.col(val).isNotNull())
        .select(*[F.col(k) for k in keys], F.col(val).cast("double").alias(val))
        .groupBy(*keys, val)
        .agg(F.sum(F.lit(1.0)).alias("_cnt"))
    )
    ranked = global_scan(
        pv,
        [ScanSpec((*keys, val), val="_cnt", cum="_gcum")],
        num_buckets=num_parts,
    )
    # Each group's rows are contiguous in the scan order, so its
    # exclusive rank offset is the smallest (_gcum − _cnt) over its rows
    # and its size the sum of _cnt: one group-rollup aggregate, the
    # distributed form of the r09 driver walk. Counts are
    # integer-valued doubles, so every fold order is exact.
    offs = ranked.groupBy(*keys).agg(
        F.min(F.col("_gcum") - F.col("_cnt")).alias("_off"), F.sum("_cnt").alias("_n")
    )
    # per-(group, quantile) selection rows, column-wise: position
    # p = q·(n−1); covering ranks _lo = ⌊p⌋+1 and _lo+1; engine-exact
    # coefficients c_hi = p − ⌊p⌋ and c_lo = (⌊p⌋+1) − p (NOT 1 − c_hi,
    # which can round differently) — the same IEEE double ops the
    # engines use, now evaluated executor-side.
    qlit = F.array(
        *[
            F.struct(F.lit(qi).alias("q_i"), F.lit(float(q)).alias("q_v"))
            for qi, q in enumerate(qs)
        ]
    )
    p = F.col("__q.q_v") * (F.col("_n") - F.lit(1.0))
    fl = F.floor(p).cast("double")
    seldf = (
        offs.select(
            *keys,
            "_off",
            "_n",
            F.explode(qlit).alias("__q"),
        )
        .select(
            *keys,
            F.col("__q.q_i").alias("_qi"),
            "_off",
            (fl + F.lit(1.0)).alias("_lo"),
            (p - fl).alias("_chi"),
            ((fl + F.lit(1.0)) - p).alias("_clo"),
        )
    )

    # null-safe equi-join so NULL-key groups keep their selection rows;
    # no broadcast hint — AQE broadcasts the selection side when the
    # group domain is small and shuffles when it is not
    sel_renamed = seldf
    for k in keys:
        sel_renamed = sel_renamed.withColumnRenamed(k, f"_sk_{k}")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_sk_{k}"))
        cond = c if cond is None else (cond & c)
    j = ranked.join(sel_renamed, cond).drop(*[f"_sk_{k}" for k in keys])
    cum_g = F.col("_gcum") - F.col("_off")
    start_g = cum_g - F.col("_cnt")
    lo, hi = F.col("_lo"), F.col("_lo") + F.lit(1.0)
    covers_lo = (lo > start_g) & (lo <= cum_g)
    covers_hi = (hi > start_g) & (hi <= cum_g)
    cand = j.filter(covers_lo | ((F.col("_chi") > 0) & covers_hi))
    aggs = []
    for qi in range(len(qs)):
        is_q = F.col("_qi") == qi
        aggs += [
            F.max(F.when(is_q & covers_lo, F.col(val))).alias(f"_vlo{qi}"),
            F.max(F.when(is_q & covers_hi, F.col(val))).alias(f"_vhi{qi}"),
            F.max(F.when(is_q, F.col("_chi"))).alias(f"_chi{qi}"),
            F.max(F.when(is_q, F.col("_clo"))).alias(f"_clo{qi}"),
        ]
    per_key = cand.groupBy(*keys).agg(*aggs)
    cols = [F.col(k) for k in keys]
    for qi, out in enumerate(outs):
        vlo, vhi = F.col(f"_vlo{qi}"), F.col(f"_vhi{qi}")
        chi, clo = F.col(f"_chi{qi}"), F.col(f"_clo{qi}")
        # the engines' branch: integer position -> the order statistic
        # itself; else the symmetric interpolation, hi-term first
        cols.append(
            F.when(chi == 0, vlo)
            .otherwise(F.coalesce(vhi, vlo) * chi + vlo * clo)
            .alias(out)
        )
    return per_key.select(*cols)
