"""Workload ``query-scaled``: the bench queries on a key-rescaled copy.

The inputs are ``COPIES`` rekeyed, jittered copies of a seeded star
schema at ``BASE_SF`` (``gen.write_star_schema``).  On a 4-core box the
execute share of build + plan + execute wall, with the noop write's own
planning counted as execute, measured 0.66, 0.70 and 0.69 at 2, 5 and 8
copies (0.55-0.58 at 2 copies once that planning is counted as plan, as
the traced run now does): at these sizes execute is per-stage
fixed cost (single-task stages), not data volume, so more copies only
lengthen the warm-up.  Two copies keep the run inside its time budget.

The queries are ``suite.bench_cases()`` minus the five that form document
or embedding pairs: copies are near-twins, so their pair volume grows
with copies squared and would measure the generator, and their DuckDB
oracles alone take tens of seconds.

Each op builds one query (``fn(spark, dir)``: the queries, operators,
query/expressions and tables layers), then executes it to Spark's noop
sink.  Each pass runs every query once, in an order shuffled by the seed;
the run stops at the first op boundary after ``--seconds`` once one pass
is complete.  ``pass_wall_s`` is the sum over queries of each query's
median wall: one typical pass, defined however the last pass was cut.
Outputs are checked in the first untimed warm-up pass: every query's collected
rows are compared with its ``suite.oracle_sql()`` DuckDB oracle on the
same parquet; a mismatch fails every op of that query.  A second,
unchecked warm-up pass runs every query to the noop sink: on a 4-core
box one 60 s run's successive pass walls read 9.2, 9.0, 8.5, 8.0, 8.4,
8.3 and 8.1 s after the checked pass, so the JVM is still warming for
two more passes, and without this one the first timed pass is an
outlier in every query's few samples.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import traceback

from perfbench import gen
from perfbench.harness import ETL_ONLY, Bench, exec_layer_metrics, tail_percentile, unit, wall_metrics

BASE_SF = 0.01
COPIES = 2
PAIR_QUERIES = frozenset(
    {"dedup_minhash_lsh", "sim_topk_cosine", "sim_lsh_topk", "dedup_semantic", "dedup_hamming_prefix"}
)


def canonical(columns: list[str], rows) -> list[tuple]:
    """A result as a list of tuples: columns sorted by name, rows sorted
    by their repr with floats cut to 6 significant digits (so that the
    order does not depend on last-digit float differences)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: repr(tuple(f"{v:.6g}" if isinstance(v, float) else v for v in t)))
    return [tuple(columns[i] for i in order)] + out


def same_result(a: list[tuple], b: list[tuple]) -> bool:
    """Exact equality, except that floats may differ by one unit in the
    fourth decimal: the suite rounds aggregates on both engines, and a
    value within half an ulp of a rounding boundary may round either way
    (see the note in ``queries/aggs.py::orders_rfm_segments``)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1.5e-4):
                    return False
            elif x != y:
                return False
    return True


def oracle_results(data_dir: str, oracles: dict[str, str]) -> dict[str, list[tuple]]:
    import duckdb

    from testlog_etl_spark.tables import register_duck_views

    con = duckdb.connect()
    try:
        register_duck_views(con, data_dir)
        out = {}
        for name, sql in oracles.items():
            rel = con.execute(sql)
            out[name] = canonical([c[0] for c in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def run(b: Bench):
    from testlog_etl_spark import suite

    cases = {n: c for n, c in suite.bench_cases().items() if n not in PAIR_QUERIES}
    data = os.path.join(b.work, "data")
    with b.excluded(gen=True):
        table_rows = gen.write_star_schema(data, b.seed, BASE_SF, COPIES)
    with b.excluded():
        oracles = suite.oracle_sql()
        expected = oracle_results(data, {n: oracles[n] for n in cases})

    spark = b.start_spark()
    # warm-up: a pass that also checks every output, then a noop one
    bad: set[str] = set()
    for name, case in cases.items():
        try:
            df = case.fn(spark, data)
            if not same_result(canonical(df.columns, df.collect()), expected[name]):
                bad.add(name)
                print(f"perfbench: {name}: output differs from its DuckDB oracle", file=sys.stderr)
        except Exception:
            bad.add(name)
            print(f"perfbench: {name} raised in the check pass", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        spark.catalog.clearCache()
    b.checks_ok = not bad
    for name, case in cases.items():
        if name not in bad:
            case.fn(spark, data).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
    b.setup_done()

    rng = random.Random(b.seed)
    walls: dict[str, list[float]] = {n: [] for n in cases}
    pass_walls: list[float] = []  # wall of each complete pass, for the info line
    passes = 0
    while b.timed_elapsed() < b.seconds:
        order = list(cases)
        rng.shuffle(order)
        pass_wall = 0.0
        for name in order:
            if passes and b.timed_elapsed() >= b.seconds:
                break
            op = b.new_op(name)
            b.attempted += 1
            try:
                with b.tracer.span("query", op) as query:
                    with b.phase(op, "build"):
                        df = cases[name].fn(spark, data)
                    with b.phase(op, "exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:
                b.op_failed(name)
            else:
                if name in bad:
                    b.failed += 1
            walls[name].append(query.seconds)
            pass_wall += query.seconds
            spark.catalog.clearCache()
        else:
            pass_walls.append(pass_wall)
        passes += 1

    lat = [w for ws in walls.values() for w in ws]
    tail, tail_pct = tail_percentile(lat)
    end_to_end = {
        "setup_s": (b.setup_s, "s"),
        "pass_wall_s": (sum(statistics.median(ws) for ws in walls.values()), "s"),
        "op_latency_p50_s": (statistics.median(statistics.median(ws) for ws in walls.values()), "s"),
    }
    rss = b.peak_rss_mb()
    info = {
        "passes": passes,
        "pass_walls_s": pass_walls,
        "ops": len(lat),
        "op_latency_tail_s": tail,
        "tail_percentile": tail_pct,
        "rows": table_rows,
        "checks_failed": sorted(bad),
        "query_median_s": {n: statistics.median(ws) for n, ws in walls.items()},
    }
    b.stop_spark()
    per_layer = {}
    if b.traced:
        per_layer = layer_metrics(b)
        per_layer["peak_rss_mb"] = (rss, "MB")
    return end_to_end, per_layer, info


def layer_metrics(b: Bench) -> dict[str, tuple[float, str]]:
    """Per-layer workload sums of a traced query run."""
    stats = b.phase_stats()
    m = wall_metrics(b, stats)
    m.update({k: (v, unit(k)) for k, v in exec_layer_metrics(stats).items()})
    # the ETL-only layers are not exercised by this workload
    for k in ETL_ONLY:
        m[k] = (0.0, unit(k))
    return m

