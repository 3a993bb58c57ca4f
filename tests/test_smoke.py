"""Driver-contract smoke: entry() runs on sf0.001 and yields rows with a
stable schema; every queries() key with an oracle has matching names."""

from __future__ import annotations

import pytest


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def loaded_query_modules() -> set[str]:
    """Query modules suite._load_all imports: core directly, the rest
    through its module loop (read from the source with ast)."""
    import ast
    import inspect

    from testlog_etl_spark import suite

    load_all = ast.parse(inspect.getsource(suite._load_all))
    listed = {
        elt.value
        for loop in ast.walk(load_all)
        if isinstance(loop, ast.For)
        for elt in loop.iter.elts
    }
    return listed | {"core"}


def test_registry_consistency():
    import pathlib

    import __spark_entry__ as e
    from testlog_etl_spark import queries, suite

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(suite.REGISTRY) == 526
    # every query module registers through the suite, so no module can
    # sit staged outside the registry
    modules = {p.stem for p in pathlib.Path(queries.__file__).parent.glob("*.py")}
    assert sorted(modules - loaded_query_modules() - {"__init__"}) == []


def test_events_read_without_session_level_nanos_conf(spark, sf_dir):
    """The driver harness builds its OWN SparkSession, without
    spark.sql.legacy.parquet.nanosAsLong. load_table must still read
    events.parquet (TIMESTAMP NANOS) by setting the conf defensively at
    read time. Simulate by unsetting the conf on the shared session first
    (runtime conf, so unset/set is safe and scoped to this test)."""
    from pyspark.sql.types import TimestampType

    from testlog_etl_spark.tables import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert df.limit(5).count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_registry_window_invariants():
    """Guard the driver contract: the curated window is exactly the
    first 50 registrations, every name resolves, and every oracle-less
    query is a deliberate rows-only case."""
    from testlog_etl_spark import suite

    q = suite.queries()
    names = list(q)
    assert len(suite.DRIVER_WINDOW) == 50
    assert names[:50] == list(suite.DRIVER_WINDOW)
    rows_only = {n for n, c in suite.REGISTRY.items() if c.oracle is None}
    # r05 closed the last rows-only query (agg_sketch_rollup got a
    # contract oracle): every registered query now carries a DuckDB
    # twin. Keep it that way -- a new engine-specific op should ship a
    # contract oracle (exact columns cross-checked + invariant booleans
    # the driver hash enforces), not a rows-only registration.
    assert rows_only == set(), rows_only


def test_output_types_hash_safe_r07_regressions(spark, sf_dir):
    """Regression for the two CORRECTNESS_r07 failures (the only
    driver-red rows since r01): jx_array_lambdas emitted a raw ARRAY
    column (driver hasher: "unhashable type: 'list'") and
    agg_decimal_exact_revenue emitted DECIMAL(38,4) (Arrow vs DuckDB
    client decimal->float64 drift). Both must now render hash-safe
    output types, checked with the same helper tools/output_type_lint.py
    uses for the full-registry pre-seal sweep."""
    import importlib.util
    import os

    lint_path = os.path.join(os.path.dirname(__file__), "..", "tools", "output_type_lint.py")
    spec = importlib.util.spec_from_file_location("output_type_lint", lint_path)
    lint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lint)

    from testlog_etl_spark import suite

    qs = suite.queries()
    for name in ("jx_array_lambdas", "agg_decimal_exact_revenue"):
        bad = lint.spark_unsafe_cols(qs[name](spark, sf_dir).schema)
        assert bad == {}, f"{name} emits driver-hash-unsafe output columns: {bad}"
    # duplicate output names (legal in Spark, scrambles the driver's
    # sort-by-name compare) are rejected too
    from pyspark.sql import functions as F

    dup = spark.range(1).select(F.lit(1).alias("a"), F.lit(2).alias("a"))
    assert "duplicate" in lint.spark_unsafe_cols(dup.schema).get("a", "")

    # the exact-decimal query must still DO exact decimal arithmetic
    # internally -- only the render changed.
    plan = qs["agg_decimal_exact_revenue"](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,4)" in plan.lower()


def test_driver_hash_rehearsal_catches_r07_classes(spark, sf_dir):
    """tools/driver_hash_rehearsal.py replays the driver's pandas
    canonicalization (sort_values lexsort + dtype-strict compare). Pin
    that it (a) passes the two FIXED queries end-to-end and (b) would
    have FAILED both r07 classes: an ARRAY output raises in the sort
    step; a DECIMAL output drifts dtype (object Decimal vs float64)."""
    import importlib.util
    import os
    from decimal import Decimal

    import pandas as pd
    import pytest as _pytest

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "driver_hash_rehearsal.py")
    spec = importlib.util.spec_from_file_location("dhr", path)
    dhr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dhr)

    # (b) ARRAY output: the driver's sort step raises on list cells
    with _pytest.raises(TypeError):
        dhr.canonicalize(pd.DataFrame({"k": [1, 2], "v": [[1, 2], [3]]}))

    # (b) DECIMAL output: Spark's Arrow path yields object(Decimal),
    # DuckDB's client path float64 -- dtype-strict compare must fail
    s = dhr.canonicalize(pd.DataFrame({"v": [Decimal("1.5000"), Decimal("2.0000")]}))
    d = dhr.canonicalize(pd.DataFrame({"v": [1.5, 2.0]}))
    with _pytest.raises(AssertionError):
        pd.testing.assert_frame_equal(s, d, check_dtype=True, check_exact=True)

    # (a) the fixed queries pass the full rehearsal pipeline
    import duckdb

    from tests.conftest import register_duck_views
    from testlog_etl_spark import suite

    con = duckdb.connect()
    register_duck_views(con, sf_dir)
    qs, oracles = suite.queries(), suite.oracle_sql()
    for name in ("jx_array_lambdas", "agg_decimal_exact_revenue"):
        a = dhr.canonicalize(qs[name](spark, sf_dir).toPandas())
        b = dhr.canonicalize(con.sql(oracles[name]).df())
        pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)


@pytest.mark.slow
def test_bench_json_contract():
    """The driver parses bench.py's single JSON line; pin the contract
    (field names + types) without paying a full sf0.1 run: run the
    bench at sf0.001 with 1 rep in a subprocess and parse its stdout."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True, text=True, check=True, timeout=600, env=env,
    ).stdout
    lines = [ln for ln in out.splitlines() if ln.strip().startswith("{")]
    assert len(lines) == 1, f"bench.py must print exactly ONE JSON line, got {len(lines)}"
    rec = json.loads(lines[0])
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["unit"] == "sec"
    assert isinstance(rec["value"], (int, float)) and rec["value"] > 0
    assert isinstance(rec["queries"], dict) and len(rec["queries"]) >= 12
    assert all(isinstance(v, (int, float)) for v in rec["queries"].values())
    assert rec["sf"] == "/root/testdata/sf0.001"
    # r08 self-diagnosis fields (BASELINE.md r08 addendum)
    assert len(rec["loadavg"]) == 3
    assert rec["cpu_ref_sec"] > 0
    assert rec["reps"] == 1
    assert isinstance(rec["core12_value"], (int, float))


def test_rotate_window_invariants():
    """The mechanical rotation tool (tools/rotate_window.py) must always
    propose a valid window: exactly 50 unique registered names, with any
    latest-round driver failures in the leading fix-first slots and no
    already-signed name occupying a slot while backlog remains."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "rotate_window.py")
    spec = importlib.util.spec_from_file_location("rotate_window", path)
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)

    from testlog_etl_spark import suite

    suite._load_all()
    window, remaining, stats = rw.build_window()
    assert len(window) == 50
    assert len(set(window)) == 50
    assert set(window) <= set(suite.REGISTRY)
    assert window[: len(stats["fix_first"])] == stats["fix_first"]
    if remaining:  # while a backlog exists, every non-fix slot drains it
        rounds = rw.correctness_rounds()
        signed = set()
        for _, d in rounds:
            signed.update(k for k, v in d.items() if rw.green(v))
        assert all(n not in signed for n in window[len(stats["fix_first"]):])
        assert set(remaining).isdisjoint(set(window))


def test_chunk_dedup_idempotent(spark):
    """Re-deduping the kept chunks keeps everything (stable winners)."""
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.dedup import chunk_instances, dedup_chunks
    from testlog_etl_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    inst = chunk_instances(docs, "doc_id", "text", k=3)
    kept = dedup_chunks(inst, "doc_id").filter("kept").drop("kept")
    again = dedup_chunks(kept, "doc_id")
    assert again.filter(~F.col("kept")).count() == 0


def test_compact_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from testlog_etl_spark.layout import compact, file_stats
    from testlog_etl_spark.tables import load_table

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # shatter: 64 tiny files
    ev.repartition(64).write.mode("overwrite").parquet(src)
    before = file_stats(spark, src)
    assert before["n_files"] >= 64
    n_out = compact(spark, src, dst, target_file_bytes=max(1, before["total_bytes"]))
    assert n_out == 1
    # semantics preserved: same rows, any order
    a = sorted(map(repr, (tuple(r) for r in spark.read.parquet(src).collect())))
    b = sorted(map(repr, (tuple(r) for r in spark.read.parquet(dst).collect())))
    assert a == b

def test_rotate_window_anchor_composition_post_drain():
    """r11: once the backlog fits in the window, NAMED_ANCHORS fill the
    anchor slots ahead of oldest-signed-first re-signs — simulate the
    r12 state (this round's window all signed) and pin the composition
    the steady-state policy promises: remaining backlog + 6 named
    anchors + re-sign fill, exactly 50."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "tools", "rotate_window.py")
    spec = importlib.util.spec_from_file_location("rotate_window", path)
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)

    from testlog_etl_spark import suite

    suite._load_all()
    real = rw.correctness_rounds

    def with_current_window_signed():
        rounds = real()
        fake = {
            n: {"rows_match": True, "schema_match": True, "hash_match": True}
            for n in suite.DRIVER_WINDOW[:50]
        }
        return rounds + [(max(r for r, _ in rounds) + 1, fake)]

    rw.correctness_rounds = with_current_window_signed
    window, remaining, stats = rw.build_window()
    assert len(window) == 50 and len(set(window)) == 50
    backlog_in_window = stats["registry"] - stats["signed_union"] - len(stats["fix_first"])
    if backlog_in_window < 50 - rw.ANCHOR_SLOTS:
        for a in rw.NAMED_ANCHORS:
            assert a in suite.REGISTRY, a
            assert a in window, (a, window)
    assert not remaining  # the drain completes in that window


def test_persist_once_skips_cached_twin(spark):
    """r12: persist_once persists a cold plan, and returns (without
    re-persisting) a freshly built twin of an already-cached plan --
    the CacheManager 'already cached' WARN source. Cleanup unpersists."""
    from testlog_etl_spark.util import persist_once

    cold = spark.range(1000).selectExpr("id", "id * 3 as v").filter("v % 2 = 0")
    a = persist_once(cold)
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    a.count()
    twin = spark.range(1000).selectExpr("id", "id * 3 as v").filter("v % 2 = 0")
    before = twin.storageLevel
    assert before.useMemory or before.useDisk  # CacheManager sees the twin
    b = persist_once(twin)
    assert b is twin  # no second persist call
    a.unpersist()
    assert not spark.range(1000).selectExpr(
        "id", "id * 3 as v"
    ).filter("v % 2 = 0").storageLevel.useMemory
