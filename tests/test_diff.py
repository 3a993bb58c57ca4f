"""Unit + plan tests for operators/diff.py (snapshot diff / CDC)."""

from __future__ import annotations

import pytest

from tests.test_plans import plan_of


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k bigint, status string, price double")


def test_diff_classifies_all_three_ops(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(1, "A", 1.0), (2, "B", 2.0), (3, "C", 3.0)])
    new = _snap(spark, [(2, "B", 2.0), (3, "C", 9.0), (4, "D", 4.0)])
    got = {
        r["k"]: (r["op"], list(r["changed_cols"]))
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: ("delete", []),
        3: ("update", ["price"]),
        4: ("insert", []),
    }


def test_diff_null_safe_compare(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    # null -> null is NOT a change; null -> value and value -> null are
    old = _snap(spark, [(1, None, 1.0), (2, None, 2.0), (3, "C", 3.0)])
    new = _snap(spark, [(1, None, 1.0), (2, "B", 2.0), (3, None, 3.0)])
    got = {r["k"]: r["op"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "update", 3: "update"}


def test_diff_identical_snapshots_empty(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(1, "A", 1.0), (2, "B", 2.0)])
    assert snapshot_diff(old, old, ["k"]).count() == 0


def test_diff_multi_column_update_names_each(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(1, "A", 1.0)])
    new = _snap(spark, [(1, "Z", 9.0)])
    [row] = snapshot_diff(old, new, ["k"]).collect()
    assert row["op"] == "update"
    assert list(row["changed_cols"]) == ["status", "price"]


def test_diff_rejects_missing_columns(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(1, "A", 1.0)])
    new = old.select("k", "status")
    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new, ["k"], ["price"])


def test_diff_projects_before_the_join(spark):
    # uncompared wide columns must NOT ride the full-outer exchange:
    # the scan under the join reads only key + compared columns
    from testlog_etl_spark.operators.diff import snapshot_diff

    wide = spark.createDataFrame(
        [(1, "A", "x" * 10)], "k bigint, status string, payload string"
    )
    plan = plan_of(snapshot_diff(wide, wide, ["k"], ["status"]))
    assert "FullOuter" in plan
    # the operator aliases ONLY key + compared columns into the join
    # inputs, so payload never acquires a _diff_ prefix and the
    # pre-join Exchanges carry [k, status] alone
    assert "_diff_old_payload" not in plan and "_diff_new_payload" not in plan
    for seg in plan.split("\n\n"):
        if seg.lstrip().startswith(("(7) Exchange", "Exchange")) or ") Exchange" in seg.split("\n")[0]:
            assert "payload" not in seg, seg


# ---- sweep_concurrency (operators/timeseries.py) ----


def _iv(spark, rows):
    return spark.createDataFrame(rows, "k string, start timestamp, end timestamp")


def test_sweep_peak_and_first_instant(spark):
    from datetime import datetime as dt

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    t = lambda m: dt(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        ("a", t(0), t(10)),
        ("a", t(5), t(15)),   # overlaps first -> conc 2 at :05
        ("a", t(5), t(8)),    # conc 3 at :05
        ("a", t(20), t(30)),  # isolated
        ("b", t(0), t(1)),
    ]
    got = {r["k"]: (r["peak"], r["first_peak_ts"]) for r in
           sweep_concurrency(_iv(spark, rows), "k", "start", "end").collect()}
    assert got == {"a": (3, t(5)), "b": (1, t(0))}


def test_sweep_half_open_boundaries(spark):
    from datetime import datetime as dt

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    # [0,10) and [10,20): end == start must NOT count as overlap
    rows = [("a", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 10)),
            ("a", dt(2024, 1, 1, 0, 10), dt(2024, 1, 1, 0, 20))]
    [r] = sweep_concurrency(_iv(spark, rows), "k", "start", "end").collect()
    assert r["peak"] == 1


def test_sweep_matches_naive_on_random_intervals(spark):
    from datetime import datetime as dt, timedelta

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    # deterministic pseudo-random intervals; naive O(n^2) check
    base = dt(2024, 1, 1)
    rows = []
    x = 1
    for i in range(60):
        x = (x * 48271) % 2147483647
        s = x % 500
        d = 1 + (x >> 8) % 50
        rows.append(("k" + str(i % 3), base + timedelta(minutes=s), base + timedelta(minutes=s + d)))
    got = {r["k"]: r["peak"] for r in
           sweep_concurrency(_iv(spark, rows), "k", "start", "end", num_parts=7).collect()}
    for key in {r[0] for r in rows}:
        ivs = [(s, e) for k, s, e in rows if k == key]
        naive = max(sum(1 for s, e in ivs if s <= b < e) for b, _ in ivs)
        assert got[key] == naive, key


def test_sweep_window_method_matches_scan(spark):
    from datetime import datetime as dt, timedelta

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    base = dt(2024, 1, 1)
    rows, x = [], 7
    for i in range(80):
        x = (x * 48271) % 2147483647
        s = x % 300
        rows.append(("k" + str(i % 5), base + timedelta(minutes=s),
                     base + timedelta(minutes=s + 1 + (x >> 7) % 40)))
    df = _iv(spark, rows)
    a = {tuple(r) for r in sweep_concurrency(df, "k", "start", "end", method="scan").collect()}
    b = {tuple(r) for r in sweep_concurrency(df, "k", "start", "end", method="window").collect()}
    assert a == b


@pytest.mark.slow
def test_snapshot_diff_roundtrip_reconstructs_new(spark):
    # applying the diff to OLD must reproduce NEW exactly: delete the
    # 'delete' keys, upsert the 'insert'/'update' keys from NEW
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(1, "A", 1.0), (2, "B", 2.0), (3, "C", 3.0), (4, "D", 4.0)])
    new = _snap(spark, [(2, "B", 2.0), (3, "X", 3.0), (4, "D", 9.0), (5, "E", 5.0)])
    from testlog_etl_spark.operators.diff import apply_diff

    d = snapshot_diff(old, new, ["k"], include_payload=True)
    rebuilt = apply_diff(old, d, ["k"])  # old + diff ONLY -- no new
    assert {tuple(r.asDict().values()) for r in rebuilt.select("k", "status", "price").collect()} == {
        tuple(r) for r in new.collect()
    }

    import pytest

    with pytest.raises(ValueError, match="payload"):
        apply_diff(old, snapshot_diff(old, new, ["k"]), ["k"])


def test_sweep_scan_handles_empty_and_null_keys(spark):
    from datetime import datetime as dt

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    empty = _iv(spark, [])
    assert sweep_concurrency(empty, "k", "start", "end").count() == 0

    rows = [
        (None, dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 10)),
        (None, dt(2024, 1, 1, 0, 5), dt(2024, 1, 1, 0, 15)),
        ("a", dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 1)),
    ]
    got = {r["k"]: r["peak"] for r in
           sweep_concurrency(_iv(spark, rows), "k", "start", "end").collect()}
    assert got == {None: 2, "a": 1}


def test_snapshot_diff_null_key_rows_classify_by_side(spark):
    from testlog_etl_spark.operators.diff import snapshot_diff

    old = _snap(spark, [(None, "A", 1.0), (1, "B", 2.0)])
    new = _snap(spark, [(1, "B", 2.0)])
    got = [(r["k"], r["op"]) for r in snapshot_diff(old, new, ["k"]).collect()]
    # the null-keyed old row is a DELETE (it exists only on the old
    # side), not a phantom insert
    assert got == [(None, "delete")]


def test_sweep_window_method_keeps_null_keys(spark):
    from datetime import datetime as dt

    from testlog_etl_spark.operators.timeseries import sweep_concurrency

    rows = [
        (None, dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 10)),
        (None, dt(2024, 1, 1, 0, 5), dt(2024, 1, 1, 0, 15)),
    ]
    got = {r["k"]: r["peak"] for r in
           sweep_concurrency(_iv(spark, rows), "k", "start", "end", method="window").collect()}
    assert got == {None: 2}


def test_lindley_window_form_equals_sequential_fold(spark):
    # property pin for ts_capped_balance's floor-only path: the Lindley
    # restatement b = S - min(0, running_min(S)) must equal the
    # sequential clamp max(0, prev + d) on arbitrary delta sequences
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    x = 123456789
    rows = []
    for key in range(6):
        for i in range(40):
            x = (x * 48271) % 2147483647
            rows.append((key, i, ((x % 2001) - 1000) / 10.0))  # deltas in [-100, 100]
    df = spark.createDataFrame(rows, "k int, i int, d double")
    w = Window.partitionBy("k").orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    lin = (
        df.withColumn("S", F.sum("d").over(w))
        .withColumn("b", F.col("S") - F.least(F.lit(0.0), F.min("S").over(w)))
        .collect()
    )
    got = {(r["k"], r["i"]): r["b"] for r in lin}
    # sequential reference
    seqs: dict[int, float] = {}
    for key, i, d in rows:
        bal = max(0.0, seqs.get(key, 0.0) + d)
        seqs[key] = bal
        assert abs(got[(key, i)] - bal) < 1e-9, (key, i, got[(key, i)], bal)


# ---------------------------------------------------------------- scan
#
# Every global_scan output is checked against a single-partition
# reference: Spark's Window.orderBy over the whole frame (ranks, running
# sums) or a Python replay of the sorted rows (the running max's
# missing-value contract).


def _window_ref(df, order, val=None):
    """(rank, running sum) per id from one unpartitioned window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = []
    for o in order:
        name, _, d = o.rpartition(" ")
        cols.append(F.col(name).desc() if d == "desc" else F.col(o).asc())
    w = Window.orderBy(*cols)
    ref = df.withColumn("_ri", F.row_number().over(w))
    if val:
        v = F.coalesce(F.col(val).cast("double"), F.lit(0.0))
        ref = ref.withColumn("_rc", F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return {r["id"]: (r["_ri"], r["_rc"] if val else None) for r in ref.collect()}


def _check_scan(df, order, nbk, val="t"):
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    got = global_scan(
        df,
        [ScanSpec(order, rank="i", val=val, cum="c", n="n", total="tt")],
        num_buckets=nbk,
    )
    assert got.dtypes[-4:] == [("i", "bigint"), ("c", "double"), ("n", "bigint"), ("tt", "double")]
    rows = got.collect()
    want = _window_ref(df, order, val)
    assert {r["id"]: (r["i"], r["c"]) for r in rows} == want, (order, nbk)
    tot = max(want.values())[1]  # the last-ranked row's running sum
    assert all(r["n"] == len(want) and r["tt"] == tot for r in rows), (order, nbk)
    return got


def test_global_rank_cumsum_matches_naive_window(spark):
    rows = [(i, float((i * 37) % 101)) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    _check_scan(df, ("v desc", "id"), 7, val="v")


def test_global_rank_cumsum_empty_and_null_vals(spark):
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    spec = [ScanSpec(("id",), rank="i", val="v", cum="cum")]
    empty = spark.createDataFrame([], "id bigint, v double")
    assert global_scan(empty, spec).count() == 0
    # null values contribute 0 to the running sum, rows still ranked
    df = spark.createDataFrame([(1, None), (2, 5.0), (3, None)], "id bigint, v double")
    got = {r["id"]: (r["i"], r["cum"]) for r in global_scan(df, spec, num_buckets=2).collect()}
    assert got == {1: (1, 0.0), 2: (2, 5.0), 3: (3, 5.0)}


@pytest.mark.slow
def test_global_rank_inplan_matches_range_scan(spark):
    """Numeric keys against the single-partition window: ties, NULLs,
    NaNs, +-0.0, +-inf, both directions, degenerate bucket counts
    (fewer and far more buckets than distinct keys)."""
    import random

    random.seed(7)
    rows = []
    for i in range(800):
        v = random.choice(
            [None, float("nan"), 0.0, -0.0, float("inf"), float("-inf")]
            + [float(random.randint(0, 25))] * 18
        )
        rows.append((i, v, float(random.randint(0, 5))))
    df = spark.createDataFrame(rows, "id long, x double, t double")
    for order in (("x", "id"), ("x desc", "id")):
        for nbk in (2, 5, 64):
            _check_scan(df, order, nbk)


def test_global_ranks_inplan_batch_matches_chained(spark):
    """The batched multi-spec form must equal chaining single calls."""
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    rows = [(i, float((i * 37) % 101), float((i * 13) % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    sa = ScanSpec(("a desc", "id"), rank="ra", n="n")
    sb = ScanSpec(("b", "id"), rank="rb")
    chained = global_scan(global_scan(df, [sa], num_buckets=6), [sb], num_buckets=6)
    batch = global_scan(df, [sa, sb], num_buckets=6)
    c = {r["id"]: (r["ra"], r["n"], r["rb"]) for r in chained.collect()}
    g = {r["id"]: (r["ra"], r["n"], r["rb"]) for r in batch.collect()}
    assert c == g


def test_global_scan_mixed_direction_orders(spark):
    """Orders whose direction changes after the leading column(s): the
    boundary prefix stops at the change, so heavy ties on the prefix
    share a bucket and the window breaks them. Two orders in one call
    (x desc with heavy ties, then a descending string key) at 2/5/64
    buckets, each against the single-partition window."""
    import random

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    random.seed(41)
    words = [None, "alpha", "ALPHA", "Ωmega", "déjà", "", "中文"]
    rows = [
        (i, float(random.choice([1, 1, 1, 1, 2, 3])), random.choice(words), float(i % 4))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, x double, s string, t double")
    ox, os_ = ("x desc", "id"), ("s desc", "x", "id")
    want_x, want_s = _window_ref(df, ox, "t"), _window_ref(df, os_)
    for nbk in (2, 5, 64):
        got = global_scan(
            df,
            [ScanSpec(ox, rank="ix", val="t", cum="cx"), ScanSpec(os_, rank="is")],
            num_buckets=nbk,
        ).collect()
        assert {r["id"]: (r["ix"], r["cx"]) for r in got} == want_x, nbk
        assert {r["id"]: (r["is"], None) for r in got} == want_s, nbk


def test_global_scan_caps_bucket_count(spark):
    """num_buckets far above the cap: the executed plan carries at most
    MAX_BUCKETS-1 boundary structs per order, and ranks stay exact."""
    from testlog_etl_spark.operators.scan import MAX_BUCKETS

    rows = [(i, float(i % 997), float(i % 3)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, x double, t double")
    got = _check_scan(df, ("x", "id"), 100_000)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # one boundary comparison per CASE term of the bucket projection
    # (the executed AQE plan may print the projection more than once)
    n_bnds = [
        ln.count(" THEN 1 ELSE 0 END") for ln in plan.splitlines() if " AS _bkt0#" in ln
    ]
    assert MAX_BUCKETS == 256 and n_bnds, plan
    assert all(0 < n <= MAX_BUCKETS - 1 for n in n_bnds), n_bnds


def _build_jobs(spark, group, build):
    """Spark jobs launched while ``build()`` runs (it only builds a
    DataFrame; executing it is the caller's business)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_global_scan_batching_adds_no_build_jobs(spark):
    """Building a scan runs no Spark job, for one spec or three over
    one frame: boundaries and rollups are scalar subqueries of the
    plan."""
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    rows = [(i, i % 7, float((i * 13) % 29), float(i % 5)) for i in range(400)]

    def build_jobs(specs, group):
        df = spark.createDataFrame(rows, "id long, a long, b double, c double")
        return _build_jobs(spark, group, lambda: global_scan(df, specs, num_buckets=4))

    one = build_jobs([ScanSpec(("a desc", "id"), rank="r1", n="n")], "scan-jobs-1")
    three = build_jobs(
        [
            ScanSpec(("a desc", "id"), rank="r1", n="n"),
            ScanSpec(("b desc", "id"), rank="r2"),
            ScanSpec(("c", "id"), rank="r3", val="b", cum="cb"),
        ],
        "scan-jobs-3",
    )
    assert (one, three) == (0, 0)


def test_scan_consumers_build_no_jobs(spark):
    """The registered scan, quantile and heavy-hitter consumers, and a
    run_jx groupby-percentile query, build their DataFrames without
    running a Spark job."""
    from testlog_etl_spark import suite
    from testlog_etl_spark.query import run_jx
    from testlog_etl_spark.tables import TABLE_NAMES, load_tables
    from tests.conftest import SF_SMALL

    tables = load_tables(spark, SF_SMALL, TABLE_NAMES)  # schema jobs happen here
    qs = suite.queries()
    names = (
        "orders_rfm_segments",
        "topk_global_paging",
        "agg_heavyhitters_mg",
        "agg_lorenz_deciles",
        "corpus_balanced_shards",
        "stats_quantile_normalize",
    )
    got = {n: _build_jobs(spark, f"build-{n}", lambda n=n: qs[n](spark, SF_SMALL)) for n in names}
    jx = {
        "from": "orders",
        "groupby": ["o_orderstatus"],
        "select": [
            {"name": "med", "value": "o_totalprice", "aggregate": "median"},
            {"name": "p90", "value": "o_totalprice", "aggregate": "percentile", "percentile": 0.9},
        ],
    }
    got["run_jx"] = _build_jobs(spark, "build-run_jx", lambda: run_jx(spark, jx, tables))
    assert got == dict.fromkeys(got, 0), got


def test_global_rank_inplan_rank_range_prunes_exactly(spark):
    """rank_range bucket pruning must keep EVERY row whose rank falls in
    the page, with the identical rank values the unpruned scan assigns
    -- across ties, desc, and page positions that straddle bucket
    boundaries."""
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    rows = [(i, float((i * 37) % 50)) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v double")
    for order in (("v", "id"), ("v desc", "id")):
        full = {r["id"]: r["i"] for r in global_scan(df, [ScanSpec(order, rank="i")], num_buckets=8).collect()}
        for lo, hi in ((1, 50), (101, 150), (951, 1000)):
            want = {k: i for k, i in full.items() if lo <= i <= hi}
            paged = global_scan(df, [ScanSpec(order, rank="i", rank_range=(lo, hi))], num_buckets=8)
            got = {r["id"]: r["i"] for r in paged.filter(F.col("i").between(lo, hi)).collect()}
            assert got == want, (order, lo, hi)
            # pruning must actually drop non-covering buckets' rows
            assert paged.count() < 1000
    # page beyond the data -> empty, not an error
    empty = global_scan(
        df, [ScanSpec(("v", "id"), rank="i", rank_range=(5000, 5100))], num_buckets=8
    )
    assert empty.count() == 0
    with pytest.raises(ValueError):
        global_scan(df, [ScanSpec(("v", "id"), rank="i", val="v", cum="c", rank_range=(1, 2))])


def test_global_rank_cumsum_inplan_matches_range_scan(spark):
    """Composite keys against the single-partition window: non-ASCII
    strings, NULLs, NaNs, ties, a (string, double, id) order, cumsums,
    degenerate bucket counts; and a non-atomic leading column, which
    gets one bucket and stays exact."""
    import random

    from pyspark.sql import functions as F

    random.seed(29)
    words = ["alpha", "ALPHA", "Ωmega", "déjà", "zzz", "", " ", "naïve", "中文", "a'b"]
    rows = []
    for i in range(700):
        s = random.choice([None] + words * 2)
        x = random.choice([None, float("nan")] + [float(random.randint(0, 9))] * 8)
        rows.append((i, s, x, float(random.randint(0, 5))))
    df = spark.createDataFrame(rows, "id long, s string, x double, t double")
    for nbk in (2, 5, 64):
        _check_scan(df, ("s", "x", "id"), nbk)
    arr = df.withColumn("a", F.array("x", F.col("id").cast("double")))
    _check_scan(arr, ("a", "id"), 5)


def _physical_nodes(node, in_subquery=False):
    """(node, in_subquery) for every node of a physical plan, descending
    into adaptive plans and subquery plans."""
    yield node, in_subquery
    kids = node.children()
    if node.nodeName() == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    else:
        kids = [kids.apply(i) for i in range(kids.size())]
    for k in kids:
        yield from _physical_nodes(k, in_subquery)
    subs = node.subqueries()
    for i in range(subs.size()):
        yield from _physical_nodes(subs.apply(i), True)


def test_global_rank_inplan_no_python_single_exchange(spark):
    """Plan pins: no Python eval node anywhere, the subqueries
    included; the main pass adds exactly ONE exchange over the input
    (the subqueries' bounded exchanges are counted apart); and no array
    column the input lacks rides that exchange."""
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    df = spark.createDataFrame(
        [(i, float(i % 9), [i]) for i in range(500)], "id long, v double, a array<long>"
    )
    out = global_scan(df, [ScanSpec(("v", "id"), rank="i")], num_buckets=4)
    nodes = list(_physical_nodes(out._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n, _ in nodes]
    assert any(sub for _, sub in nodes), names  # the build work is in the plan
    python = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")
    assert not [n for n in names if n in python], names
    main = [n for n, sub in nodes if not sub and "Exchange" in n.nodeName()]
    assert len(main) == 1, names
    out_attrs = main[0].child().output()
    arrays = {
        out_attrs.apply(i).name()
        for i in range(out_attrs.size())
        if "array<" in out_attrs.apply(i).dataType().catalogString()
    }
    assert arrays <= {"a"}, arrays


def test_scan_family_persists_nothing_and_recomputes_identically(spark):
    """global_scan, group_quantiles_exact and heavy_hitters_exact are
    lazy plans: building and executing each leaves the persisted-RDD
    set unchanged, and a second execution returns the same rows."""
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact
    from testlog_etl_spark.operators.sketches import heavy_hitters_exact

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    rows = [(i, float(i % 13), f"k{i % 7}", f"t{min(i % 17, 3)}") for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v double, g string, t string")
    builds = {
        "scan": lambda: global_scan(
            df, [ScanSpec(("v", "id"), rank="i", val="v", cum="cum", n="n")], num_buckets=4
        ),
        "quantiles": lambda: group_quantiles_exact(df, "g", "v", [0.5, 0.9], ["p50", "p90"]),
        "heavy": lambda: heavy_hitters_exact(df, "t", k=5),
    }
    for name, build in builds.items():
        before = persisted()
        out = build()
        first = sorted(map(tuple, out.collect()))
        assert persisted() == before, name
        assert first and sorted(map(tuple, out.collect())) == first, name


def _running_max_replay(rows, exclusive):
    """Python replay of the running-max contract over rows sorted by
    (k asc nulls first, NaN last, id): NULL/NaN values are skipped and a
    NULL or +-inf result surfaces as NULL."""
    import math

    def key(r):
        k = r[1]
        return ((0,) if k is None else (2,) if math.isnan(k) else (1, k), r[0])

    out, acc = {}, None
    for i, _, v in sorted(rows, key=key):
        prev = acc
        if v is not None and not math.isnan(v) and (acc is None or v > acc):
            acc = v
        m = prev if exclusive else acc
        out[i] = None if m is None or math.isinf(m) else m
    return out


def test_global_running_max_inplan_matches_range_scan(spark):
    """The bucketed running max against the Python replay on
    adversarial values: NULL/NaN/+-inf values (the documented
    missing-value contract), NULL and NaN keys, ties, inclusive and
    exclusive frames, degenerate bucket counts. Also pins the plan: no
    Python node."""
    import random

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    random.seed(31)
    rows = []
    for i in range(700):
        k = random.choice([None, float("nan")] + [float(random.randint(0, 9))] * 8)
        v = random.choice(
            [None, float("nan"), float("inf"), float("-inf")]
            + [float(random.randint(-5, 5))] * 12
        )
        rows.append((i, k, v))
    df = spark.createDataFrame(rows, "id long, k double, v double")
    for exclusive in (False, True):
        want = _running_max_replay(rows, exclusive)
        for nbk in (2, 5, 64):
            new = global_scan(
                df,
                [ScanSpec(("k", "id"), val="v", max="m", exclusive=exclusive)],
                num_buckets=nbk,
            )
            assert {r["id"]: r["m"] for r in new.collect()} == want, (exclusive, nbk)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "EvalPython" not in plan
