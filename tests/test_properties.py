"""Property-based tests (hypothesis) for the two SURVEY hard spots:

- JX null/missing semantics (SS2.2): the compiled Column expressions are
  compared row-by-row against a tiny Python model of the JX rules
  (missing = null or "", comparisons with missing are false, eq treats
  two missings as equal, add/max skip missing operands);
- dense cube invariants (SS2.5 D2/D7/D8): every domain part appears
  exactly once, counts zero-fill, non-count aggregates stay null in
  empty cells, the null part absorbs out-of-domain rows, and the cube's
  total count equals the row count.

One DataFrame per hypothesis example keeps Spark round-trips bounded:
examples are small and few; each example evaluates all rows at once.
"""

from __future__ import annotations

import pytest

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from testlog_etl_spark.expressions import JXCompiler

# a value universe that exercises the missing rules: None, empty string,
# strings, and small numbers
sval = st.one_of(st.none(), st.just(""), st.sampled_from(["a", "b", "xy"]))
nval = st.one_of(st.none(), st.sampled_from([0.0, 1.0, -2.5, 10.0]))
rows_strategy = st.lists(st.tuples(sval, sval, nval, nval), min_size=1, max_size=25)

SCHEMA = StructType(
    [
        StructField("s1", StringType()),
        StructField("s2", StringType()),
        StructField("n1", DoubleType()),
        StructField("n2", DoubleType()),
    ]
)


def _is_missing(v) -> bool:
    return v is None or v == ""


def _model(row) -> dict:
    """Python model of the JX rules for the expressions under test."""
    s1, s2, n1, n2 = row
    eq = (_is_missing(s1) and _is_missing(s2)) or (
        not _is_missing(s1) and not _is_missing(s2) and s1 == s2
    )
    gt = (not _is_missing(n1) and not _is_missing(n2)) and n1 > n2
    add = None if (_is_missing(n1) and _is_missing(n2)) else (n1 or 0.0) + (n2 or 0.0)
    mx = None if (_is_missing(n1) and _is_missing(n2)) else max(v for v in (n1, n2) if v is not None)
    land = (not _is_missing(n1) and n1 > 0) and (not _is_missing(s1) and s1 != "")
    return {
        "eq": eq,
        "gt": gt,
        "add": add,
        "max": mx,
        "and": land,
        "missing_s1": _is_missing(s1),
    }


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows_strategy)
def test_null_semantics_match_model(rows):
    spark = _spark()
    df = spark.createDataFrame(rows, SCHEMA)
    comp = JXCompiler(dtypes=dict(df.dtypes))
    out = df.select(
        comp.predicate({"eq": ["s1", "s2"]}).alias("eq"),
        comp.predicate({"gt": ["n1", "n2"]}).alias("gt"),
        comp.compile({"add": ["n1", "n2"]}).alias("add"),
        comp.compile({"max": ["n1", "n2"]}).alias("max"),
        comp.predicate({"and": [{"gt": ["n1", {"literal": 0}]}, {"exists": "s1"}]}).alias("and"),
        comp.predicate({"missing": "s1"}).alias("missing_s1"),
    ).collect()
    for row, got in zip(rows, out):
        want = _model(row)
        for k, expect in want.items():
            actual = got[k]
            if isinstance(expect, float) and actual is not None:
                assert math.isclose(actual, expect, rel_tol=1e-9), (k, row, actual, expect)
            else:
                assert actual == expect, (k, row, actual, expect)


_SPARK = None


def _spark():
    global _SPARK
    if _SPARK is None:
        from testlog_etl_spark.session import get_spark

        _SPARK = get_spark("props")
    return _SPARK


dom_strategy = st.lists(st.sampled_from(["p", "q", "r", "s"]), min_size=1, max_size=4, unique=True)
key_strategy = st.lists(
    st.one_of(st.none(), st.sampled_from(["p", "q", "r", "s", "OUT1", "OUT2"])), min_size=0, max_size=30
)


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(dom_strategy, key_strategy)
def test_cube_invariants(domain, keys):
    spark = _spark()
    from testlog_etl_spark.operators.edges import cube_aggregate, normalize_edge

    rows = [(k, float(i)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, StructType([StructField("k", StringType()), StructField("v", DoubleType())]))
    comp = JXCompiler(dtypes=dict(df.dtypes))
    edge = normalize_edge(
        spark, {"name": "k", "value": "k", "domain": {"type": "set", "partitions": domain}}, comp
    )
    out = cube_aggregate(
        spark,
        df,
        [edge],
        [F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")],
        ["n"],
    ).collect()

    got = {r["k"]: (r["n"], r["sv"]) for r in out}
    # D2: every domain part present exactly once; D7: exactly one null part
    assert len(out) == len(domain) + 1
    assert set(got) == set(domain) | {None}
    in_dom = [k for k in keys if k in domain]
    # D8: zero-fill count, null (not 0) for other aggregates in empty cells
    for part in domain:
        expect_n = sum(1 for k in in_dom if k == part)
        assert got[part][0] == expect_n
        if expect_n == 0:
            assert got[part][1] is None
    # null part absorbs missing AND out-of-domain keys
    assert got[None][0] == len(keys) - len(in_dom)
    # total conservation
    assert sum(n for n, _ in got.values()) == len(keys)


# ---------------------------------------------------------------------------
# connected components vs a union-find model
# ---------------------------------------------------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges_strategy)
def test_connected_components_match_union_find(edges):
    from testlog_etl_spark.operators.dupgroups import connected_components

    spark = _spark()
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    want = _union_find_components(edges)
    # union-find parents are path-compressed to the min by construction:
    # normalize both to min-of-component before comparing
    comp_min = {}
    for node, root in want.items():
        comp_min.setdefault(root, node)
        comp_min[root] = min(comp_min[root], node)
    want_min = {node: comp_min[root] for node, root in want.items()}
    assert got == want_min


# ---------------------------------------------------------------------------
# sequence packing vs a sequential-scan model
# ---------------------------------------------------------------------------

tok_rows = st.lists(st.integers(0, 40), min_size=1, max_size=60)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(tok_rows, st.integers(2, 5))
def test_packing_matches_sequential_model(toks, parts):
    from testlog_etl_spark.operators.packing import pack_chunks

    spark = _spark()
    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["id", "tok"])
    got = {r["id"]: r for r in pack_chunks(df, "id", "tok", seq_len=16, num_parts=parts).collect()}
    acc = 0
    for i, tok in rows:
        lo, hi = acc // 16, max(acc, acc + tok - 1) // 16
        r = got[i]
        assert (r["start"], r["start_seq"], r["end_seq"], r["crosses"]) == (acc, lo, hi, hi > lo)
        acc += tok


# ---------------------------------------------------------------------------
# hierarchical global scan vs a sequential model
# ---------------------------------------------------------------------------

scan_rows = st.lists(
    st.tuples(st.integers(-50, 50), st.one_of(st.none(), st.integers(-20, 20))),
    min_size=1,
    max_size=50,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(scan_rows, st.integers(2, 6), st.booleans())
def test_global_scan_matches_sequential_model(rows, parts, desc):
    from pyspark.sql import functions as F

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    spark = _spark()
    data = [(i, v, None if x is None else float(x)) for i, (v, x) in enumerate(rows)]
    df = spark.createDataFrame(data, "id bigint, k bigint, v double")
    spec = ScanSpec(
        ("k desc" if desc else "k", "id"), rank="i", val="v", cum="cum", n="n", total="tot"
    )
    got = {
        r["id"]: (r["i"], r["cum"], r["n"], r["tot"])
        for r in global_scan(df, [spec], num_buckets=parts).collect()
    }
    seq = sorted(data, key=lambda t: ((-t[1] if desc else t[1]), t[0]))
    acc, tot = 0.0, sum(x or 0.0 for _, _, x in data)
    for rank, (i, _, x) in enumerate(seq, start=1):
        acc += x or 0.0
        gi, gcum, gn, gtot = got[i]
        assert gi == rank and abs(gcum - acc) < 1e-9
        assert gn == len(data) and abs(gtot - tot) < 1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=8),
    st.integers(1, 500_000),
)
def test_temperature_allocation_apportionment_invariants(token_counts, budget):
    from testlog_etl_spark.operators.sampling import temperature_allocation

    spark = _spark()
    rows = [(f"s{i}", int(t)) for i, t in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "src string, n_tok long")
    out = temperature_allocation(df, "src", "n_tok", budget=budget).collect()
    total_tok = sum(token_counts)
    if total_tok == 0:
        assert all(r["alloc_tokens"] == 0 for r in out)
        return
    # largest-remainder apportionment: sums exactly, each within 1 unit
    # of its real-valued target, zero-token strata get nothing
    assert sum(r["alloc_tokens"] for r in out) == budget
    ws = {r["src"]: r["w_temp"] for r in out}
    sw = sum(ws.values())
    for r in out:
        target = budget * ws[r["src"]] / sw
        assert target - 1 < r["alloc_tokens"] < target + 1, (r, target)
        if r["tokens"] == 0:
            assert r["alloc_tokens"] == 0


# ------------------------- string-similarity kernels vs DuckDB builtins

# printable ASCII: DuckDB computes these over UTF-8 BYTES, our kernels
# over CODEPOINTS -- identical exactly on ASCII (the divergence is pinned
# in test_strsim_unicode_is_codepoint_level below)
_strsim_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=24,
)


@given(_strsim_text, _strsim_text)
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_kernel_matches_duckdb(a, b):
    """The pure-Python JW kernel behind the Arrow UDF must stay
    bit-compatible with DuckDB's jaro_winkler_similarity on arbitrary
    text (the blocked fuzzy-join oracles depend on exact agreement);
    the r07 tests pin real p_name pairs, this fuzzes the long tail
    (repeats, prefixes, empties). ASCII only: see alphabet comment."""
    import duckdb

    from testlog_etl_spark.operators.strsim import _jw

    want = duckdb.execute("SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
    assert _jw(a, b) == want, (a, b)


@given(_strsim_text, _strsim_text)
@settings(max_examples=300, deadline=None)
def test_damerau_kernel_matches_duckdb(a, b):
    """True Damerau-Levenshtein (unrestricted transpositions) must agree
    with DuckDB's damerau_levenshtein everywhere, not just on blocked
    name pairs."""
    import duckdb

    from testlog_etl_spark.operators.strsim import _dl

    want = duckdb.execute("SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
    assert _dl(a, b) == want, (a, b)


def test_strsim_unicode_is_codepoint_level():
    """Deliberate divergence, found by the r08 fuzz: DuckDB's string
    distances operate on UTF-8 bytes ('\x80' is C2 80, so it shares a
    lead byte with any 2-byte codepoint); our kernels operate on
    codepoints, the linguistically meaningful unit. Pin OUR behavior so
    an accidental switch to byte semantics fails loudly."""
    from testlog_etl_spark.operators.strsim import _dl, _jw

    # codepoint view: 1-char vs 2-char strings, one match
    assert abs(_jw("\x80", "\x800") - 0.85) < 1e-12  # DuckDB (bytes): 0.9111...
    assert _dl("\x80", "\x800") == 1  # one insertion, codepoint-wise
    # ASCII pairs remain byte-identical to DuckDB (property above)


# ------------------- space-filling-curve SQL twins vs the Python kernels

_curve_pts = st.lists(
    st.tuples(st.integers(0, 255), st.integers(0, 255)), min_size=1, max_size=40
)


@given(_curve_pts, st.integers(1, 8))
@settings(max_examples=40, deadline=None)
def test_hilbert_cte_twin_matches_python_fuzz(pts, bits):
    """Fuzz the Hilbert CTE chain (the DuckDB oracle twin of
    with_hilbert) against the pure-Python hilbert_d kernel at EVERY
    order 1..8, not just the fixed seeds in test_r07s4_ops: the fold
    expressions are generated text, so an off-by-one in the s-constant
    arithmetic would only show at specific (bits, quadrant) combos."""
    import duckdb

    from testlog_etl_spark.operators.layout import hilbert_d, hilbert_sql_ctes

    n = 1 << bits
    pts = [(x % n, y % n) for x, y in pts]
    values = ", ".join(f"({x}, {y})" for x, y in pts)
    src = f"SELECT * FROM (VALUES {values}) AS t(xq, yq)"
    ctes = hilbert_sql_ctes(src, "xq", "yq", bits=bits, keep="xq, yq", out="h")
    rows = duckdb.execute(f"{ctes} SELECT xq, yq, h FROM h{bits}").fetchall()
    assert len(rows) == len(pts)
    for x, y, h in rows:
        assert h == hilbert_d(x, y, bits), (x, y, bits)


@given(_curve_pts, st.integers(1, 8))
@settings(max_examples=40, deadline=None)
def test_zorder_sql_twin_matches_interleave_model_fuzz(pts, bits):
    """The zorder_sql text (DuckDB twin of the codegen zorder_value)
    must equal the textbook bit-interleave at every width."""
    import duckdb

    from testlog_etl_spark.operators.layout import zorder_sql

    def morton(x: int, y: int) -> int:
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return out

    n = 1 << bits
    pts = [(x % n, y % n) for x, y in pts]
    values = ", ".join(f"({x}, {y})" for x, y in pts)
    expr = zorder_sql("xq", "yq", bits=bits)
    rows = duckdb.execute(
        f"SELECT xq, yq, {expr} FROM (VALUES {values}) AS t(xq, yq)"
    ).fetchall()
    for x, y, z in rows:
        assert z == morton(x, y), (x, y, bits)


# --------------- phonetic blocking key: Spark vs DuckDB regex parity

_phonetic_text = st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=20),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@given(_phonetic_text)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_phonetic_key_cross_engine_parity_fuzz(texts):
    """dedup_phonetic_blocking's key is the SAME expression text run on
    both engines (substring/lower/trim/regexp_replace) -- fuzz that the
    Java-regex and RE2 renderings agree on arbitrary printable ASCII
    (the registered data, p_name, is ASCII; the non-ASCII boundary is
    pinned in the casefold test below)."""
    import duckdb

    spark = _spark()
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    expr = (
        "substring(lower(trim(s)), 1, 1) || "
        "regexp_replace(substring(lower(trim(s)), 2), '[aeiouy ]', '')"
    )
    got = [r.k for r in df.selectExpr(f"{expr} as k").collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT substring(lower(trim(?)),1,1) || "
            "regexp_replace(substring(lower(trim(?)),2), '[aeiouy ]', '', 'g')",
            [t, t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want, list(zip(texts, got, want))


def test_phonetic_key_casefold_divergence_is_pinned():
    """Deliberate divergence, found by the r09 fuzz probe: Spark's
    lower() applies FULL, context-sensitive Unicode case mapping
    (U+0130 'İ' -> 'i' + U+0307 combining dot, two codepoints; final
    sigma 'Σ' at word end -> 'ς'), while DuckDB's lower() applies the
    simple one-codepoint mapping ('İ' -> 'i', 'Σ' -> 'σ' everywhere).
    Identical on ASCII (fuzzed above), which is all the registered
    phonetic-blocking data (p_name). Pin BOTH engines' behavior so a
    library upgrade that silently changes either casing convention
    fails here instead of in a driver hash."""
    import duckdb

    spark = _spark()
    df = spark.createDataFrame([("İ",), ("ΏΣ",)], "s string")
    got = {r.s: r.k for r in df.selectExpr("s", "lower(s) as k").collect()}
    assert got["İ"] == "i̇"  # full mapping: 2 codepoints
    assert got["ΏΣ"] == "ώς"  # context-sensitive final sigma
    con = duckdb.connect()
    assert con.execute("SELECT lower('İ')").fetchone()[0] == "i"  # simple mapping
    assert con.execute("SELECT lower('ΏΣ')").fetchone()[0] == "ώσ"


# ---------------- exact group quantile (rank selection) vs both engines

_gq_rows = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2", "g3"]),
        st.one_of(st.none(), st.integers(-50, 50).map(lambda v: v / 4.0)),
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_gq_rows, st.sampled_from([0.5, 0.25, 0.9, 0.1, 0.999]))
def test_group_quantile_exact_matches_both_engines(rows, q):
    """group_quantiles_exact (the scale-safe replacement for the exact
    percentile() aggregate, whose partial buffers carry every group
    value through the shuffle) must stay BIT-identical to Spark's
    percentile() and DuckDB's quantile_cont — including the symmetric
    interpolation form hi·(p-⌊p⌋) + lo·(⌈p⌉-p) both engines share,
    which rounds differently from the naive lo + frac·(hi-lo)."""
    import duckdb

    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    spark = _spark()
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r.k: r.q for r in group_quantiles_exact(df, "k", "v", [q], ["q"]).collect()}
    want = {
        r.k: r.q
        for r in df.groupBy("k").agg(F.expr(f"percentile(v, {q})").alias("q")).collect()
        if r.q is not None  # all-NULL group: documented no-row difference
    }
    assert got == want, (q, got, want)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = {
        k: v
        for k, v in con.execute(f"SELECT k, quantile_cont(v, {q}) FROM t GROUP BY k").fetchall()
        if v is not None
    }
    assert got == duck, (q, got, duck)


# ---------------- composite-key / NULL-key quantile scan vs both engines

_gq2_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["g1", "g2"])),
        st.one_of(st.none(), st.sampled_from(["x", "y"])),
        st.one_of(st.none(), st.integers(-50, 50).map(lambda v: v / 4.0)),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_gq2_rows, st.sampled_from([0.5, 0.25, 0.9]))
def test_group_quantiles_exact_composite_null_keys_fuzz(rows, q):
    """The multi-key form (r09: the JX groupby path compiles onto it)
    with NULL group keys in play: the driver-side offset walk must
    replicate Spark's asc nulls-first range order and the selection
    joins must be null-safe, or a NULL-key group's quantile lands on
    the wrong group. Ground truth is the buffering percentile()
    aggregate AND DuckDB's quantile_cont over the same rows."""
    import duckdb

    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    spark = _spark()
    df = spark.createDataFrame(rows, "k1 string, k2 string, v double")
    out = group_quantiles_exact(df, ["k1", "k2"], "v", [q], ["q"], num_parts=3)
    got = {(r.k1, r.k2): r.q for r in out.collect()}
    want = {
        (r.k1, r.k2): r.q
        for r in df.groupBy("k1", "k2").agg(F.expr(f"percentile(v, {q})").alias("q")).collect()
        if r.q is not None  # all-NULL group: documented no-row difference
    }
    assert got == want, (q, got, want)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k1 VARCHAR, k2 VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = {
        (k1, k2): v
        for k1, k2, v in con.execute(
            f"SELECT k1, k2, quantile_cont(v, {q}) FROM t GROUP BY k1, k2"
        ).fetchall()
        if v is not None
    }
    assert got == duck, (q, got, duck)


# ---------------- NaN / negative / null FLOAT group keys (r10: the
# distributed offset scan replaced the r09 driver walk, which could not
# order NaN; both scans now use Spark's own asc-nulls-first NaN-last
# range order, and the mapInArrow pass keeps NaN distinct from NULL in
# pass-through columns -- the mapInPandas form it replaced conflated
# them, silently merging the NaN-key group into the null-key group)

_gqnan_rows = st.lists(
    st.tuples(
        st.one_of(
            st.none(),
            st.sampled_from([float("nan"), -1.5, -0.0, 0.0, 2.25]),
        ),
        st.one_of(st.none(), st.integers(-50, 50).map(lambda v: v / 4.0)),
    ),
    min_size=1,
    max_size=40,
)


_runmax_rows = st.lists(
    st.one_of(st.none(), st.integers(-40, 40).map(lambda v: v / 4.0)),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_runmax_rows, st.booleans())
def test_global_running_max_matches_window_reference_fuzz(vals, exclusive):
    """The running max's NaN carry sentinel for 'no preceding value'
    must surface as NULL and NULL inputs must be skipped, exactly like
    the single-partition window form it replaces at scale."""
    from pyspark.sql import Window

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    spark = _spark()
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v double").repartition(3)
    spec = ScanSpec(("i",), val="v", max="m", exclusive=exclusive)
    got = {r["i"]: r["m"] for r in global_scan(df, [spec], num_buckets=3).collect()}
    end = -1 if exclusive else Window.currentRow
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, end)
    want = {r["i"]: r["m"] for r in df.select("i", F.max("v").over(w).alias("m")).collect()}
    assert got == want, (exclusive, vals, got, want)


_melt_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["g1", "g2", "g3"])),
        st.one_of(st.none(), st.integers(-40, 40).map(lambda v: v / 4.0)),
        st.one_of(st.none(), st.integers(-40, 40).map(lambda v: v / 8.0)),
    ),
    min_size=1,
    max_size=30,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_melt_rows, st.sampled_from([0.25, 0.5, 0.9]), st.sampled_from([0.5, 0.75]))
def test_attach_group_quantiles_melt_matches_per_expr_percentiles_fuzz(rows, qx, qy):
    """r10 melt path: k value expressions share ONE scan via a
    (key, expr_id, value) melt; per-expression results must still be
    bit-identical to the buffering percentile() aggregate per column,
    including all-NULL-per-expression groups (NULL out) and NULL group
    keys (null-safe join)."""
    from testlog_etl_spark.operators.scan_quantile import attach_group_quantiles

    spark = _spark()
    df = spark.createDataFrame(rows, "k string, x double, y double")
    base = df.groupBy(F.col("k")).agg(F.count(F.lit(1)).alias("n"))
    out = attach_group_quantiles(
        df, base, [F.col("k")], ["k"],
        [("qx", F.col("x"), qx), ("qy", F.col("y"), qy)],
        num_parts=3,
    )
    got = {r["k"]: (r["qx"], r["qy"]) for r in out.collect()}
    want = {
        r["k"]: (r["qx"], r["qy"])
        for r in df.groupBy("k")
        .agg(
            F.expr(f"percentile(x, {qx}d)").alias("qx"),
            F.expr(f"percentile(y, {qy}d)").alias("qy"),
        )
        .collect()
    }
    assert got == want, (qx, qy, got, want)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_gqnan_rows, st.sampled_from([0.5, 0.25, 0.9]))
def test_group_quantiles_exact_nan_float_keys_fuzz(rows, q):
    from testlog_etl_spark.operators.scan_quantile import group_quantiles_exact

    def norm(k):
        if k is None:
            return None
        if k != k:
            return "nan"
        return k + 0.0  # -0.0 -> 0.0, matching both engines' grouping

    spark = _spark()
    df = spark.createDataFrame(rows, "k double, v double")
    out = group_quantiles_exact(df, "k", "v", [q], ["q"], num_parts=3)
    got = {norm(r.k): r.q for r in out.collect()}
    want = {
        norm(r.k): r.q
        for r in df.groupBy("k").agg(F.expr(f"percentile(v, {q})").alias("q")).collect()
        if r.q is not None  # all-NULL group: documented no-row difference
    }
    assert got == want, (q, got, want)


# --- block_pairs: the shared candidate primitive of the blocked
# near-dup tiers, against a pure-Python replay. Rows are unique
# (member, k1, k2) triples, so one member can sit in several blocks (its
# pairs are emitted once per shared block); NULL in either key column
# forms no block; a block of exactly max_block members is kept and one
# of max_block + 1 is dropped.

_bp_rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.one_of(st.none(), st.sampled_from(["a", "b"])),
        st.one_of(st.none(), st.integers(0, 1)),
    ),
    min_size=1,
    max_size=24,
    unique=True,
)


def _block_pairs_replay(rows, max_block):
    from collections import Counter

    blocks: dict = {}
    for m, k1, k2 in rows:
        if k1 is not None and k2 is not None:
            blocks.setdefault((k1, k2), []).append(m)
    out: Counter = Counter()
    for ms in blocks.values():
        if max_block is not None and len(ms) > max_block:
            continue
        ms = sorted(ms)
        out.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1:])
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_bp_rows, st.sampled_from([None, 1, 2, 3]))
@example(
    # ("a", 0): 3 members (cap + 1, dropped); ("b", 1) and ("a", 1): the
    # pair (1, 4) at the cap in both, so emitted twice; ("b", 0) a
    # singleton; NULL keys
    [(1, "a", 0), (2, "a", 0), (3, "a", 0), (1, "b", 1), (4, "b", 1),
     (1, "a", 1), (4, "a", 1), (5, "b", 0), (2, None, 1), (3, None, 1),
     (4, "a", None), (5, "a", None)],
    2,
)
def test_block_pairs_matches_python_replay_fuzz(rows, max_block):
    from collections import Counter

    from testlog_etl_spark.operators.neardup import block_pairs

    spark = _spark()
    df = spark.createDataFrame(rows, "m long, k1 string, k2 long").repartition(3)
    member = F.struct("m", F.concat(F.lit("p"), F.col("m").cast("string")).alias("p"))
    got = block_pairs(df, ["k1", "k2"], member, max_block).collect()
    assert all(r["_a"]["p"] == f"p{r['_a']['m']}" and r["_b"]["p"] == f"p{r['_b']['m']}" for r in got)
    pairs = Counter((r["_a"]["m"], r["_b"]["m"]) for r in got)
    assert pairs == _block_pairs_replay(rows, max_block), (rows, max_block)


# --- r11: minhash hot-band valve integrity (VERDICT r10 finding 1) ---
# Full executable model: band keys are recomputed in Python from the
# operator's own signature expressions, bucket sizes counted, and the
# expected pair set derived as "co-occur in some band whose bucket is
# within the cap, and exact shingle Jaccard >= threshold". Candidates
# may be lost ONLY from capped bands -- never invented, never lost
# from a small band.

_valve_docs = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 9)),
    min_size=2,
    max_size=10,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(_valve_docs, st.integers(1, 6))
def test_minhash_valve_loses_only_capped_band_candidates_fuzz(docs, cap):
    from testlog_etl_spark.operators import neardup

    templates = [
        ["red", "blue", "green", "gold", "iron", "wood", "salt", "wave"],
        ["red", "blue", "green", "gold", "iron", "mist", "clay", "wave"],
        ["one", "two", "three", "four", "five", "six", "seven", "eight"],
    ]
    rows = []
    for i, (t, mut) in enumerate(docs):
        toks = list(templates[t])
        toks[mut % len(toks)] = f"mut{mut}"
        rows.append((i, " ".join(toks)))

    spark = _spark()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_hashes, band_r, thr = 16, 2, 0.25
    sh_col = neardup.word_shingles(F.col("text"), k=3)
    sig_col = neardup.minhash_signature(sh_col, n_hashes)
    info = df.select(
        "doc_id",
        sh_col.alias("sh"),
        neardup.band_keys(sig_col, band_r, n_hashes).alias("bands"),
    ).collect()
    shingles = {r["doc_id"]: set(r["sh"]) for r in info}
    bands = {r["doc_id"]: list(enumerate(r["bands"])) for r in info}

    bucket: dict = {}
    for d, bks in bands.items():
        for bk in bks:
            bucket.setdefault(bk, set()).add(d)

    def jacc(a, b):
        u = shingles[a] | shingles[b]
        return len(shingles[a] & shingles[b]) / len(u) if u else 0.0

    def expected(max_block):
        pairs = set()
        for members in bucket.values():
            if max_block is not None and len(members) > max_block:
                continue
            ms = sorted(members)
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    if jacc(ms[x], ms[y]) >= thr:
                        pairs.add((ms[x], ms[y]))
        return pairs

    def got(max_block):
        return {
            (r["id_a"], r["id_b"])
            for r in neardup.minhash_lsh_pairs(
                df, "doc_id", "text", threshold=thr,
                n_hashes=n_hashes, band_r=band_r, max_block=max_block,
            ).collect()
        }

    full, capped = got(None), got(cap)
    assert full == expected(None), (rows, full, expected(None))
    assert capped == expected(cap), (rows, cap, capped, expected(cap))
    assert capped <= full


# --- r11: scan pass-through fidelity for decimal128 / timestamp ---
# The scan only APPENDS columns; pass-through values must come out
# exact for types a Python round trip would mangle (decimal128 ->
# object/float, tz-aware timestamps re-rendered). VERDICT r10 item 7.

_scanfid_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-10**12, 10**12)),  # decimal mantissa, scale 6
        st.one_of(st.none(), st.integers(0, 2**31)),  # epoch seconds w/ micros added
        st.one_of(st.none(), st.integers(-40, 40).map(lambda v: v / 4.0)),
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_scanfid_rows)
def test_scan_passthrough_preserves_decimal_and_timestamp_fuzz(rows):
    import datetime as dt
    from decimal import Decimal

    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    spark = _spark()
    data = []
    for i, (m, s, v) in enumerate(rows):
        dec = None if m is None else Decimal(m).scaleb(-6)
        ts = (
            None
            if s is None
            else dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=s, microseconds=s % 1000000)
        )
        data.append((i, dec, ts, v))
    df = spark.createDataFrame(
        data, "i long, dec decimal(38,6), ts timestamp, v double"
    ).repartition(3)
    want = {r["i"]: (r["dec"], r["ts"], r["v"]) for r in df.collect()}

    ranked = global_scan(df, [ScanSpec(("i",), rank="rk", val="v", cum="cum")], num_buckets=3)
    got = {r["i"]: (r["dec"], r["ts"], r["v"]) for r in ranked.collect()}
    assert got == want, (data, got, want)
    # the appended rank is the total order itself
    assert {r["i"]: r["rk"] for r in ranked.collect()} == {i: i + 1 for i in range(len(data))}

    rm = global_scan(df, [ScanSpec(("i",), val="v", max="m")], num_buckets=3)
    got2 = {r["i"]: (r["dec"], r["ts"], r["v"]) for r in rm.collect()}
    assert got2 == want, (data, got2, want)


# --- r11: chain-valve connectivity — the property the chain mode exists
# for: however the cap interacts with the banding, every exact-duplicate
# cluster must come out CONNECTED in the verified pair graph (the
# dup-group path only needs a spanning set), and no cross-cluster pair
# may appear (disjoint vocabularies -> Jaccard 0).

_chain_clusters = st.lists(st.integers(1, 9), min_size=1, max_size=5)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(_chain_clusters, st.integers(2, 5))
def test_minhash_chain_valve_keeps_duplicate_clusters_connected_fuzz(sizes, cap):
    from testlog_etl_spark.operators import neardup

    rows, cluster_of = [], {}
    nid = 0
    for ci, size in enumerate(sizes):
        text = " ".join(f"tok{ci}_{j}" for j in range(8))
        for _ in range(size):
            rows.append((nid, text))
            cluster_of[nid] = ci
            nid += 1

    spark = _spark()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = [
        (r["id_a"], r["id_b"])
        for r in neardup.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5, n_hashes=16,
            max_block=cap, chain_oversized=True,
        ).collect()
    ]
    # no cross-cluster pair survives the exact verify
    assert all(cluster_of[a] == cluster_of[b] for a, b in pairs), (sizes, cap, pairs)

    # every cluster connected: union-find over the verified pairs
    parent = {i: i for i in cluster_of}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        parent[find(a)] = find(b)
    for ci, size in enumerate(sizes):
        members = [i for i, c in cluster_of.items() if c == ci]
        roots = {find(i) for i in members}
        assert len(roots) == 1, (sizes, cap, ci, pairs)


# --- r11: cross-engine Unicode fold prototype. Spark has no NFC intrinsic, so
# the fold is an EXPLICIT translate map applied identically on both
# engines: precomposed Latin letters -> ASCII base, combining marks
# (U+0300-U+036F) -> deleted, A-Z -> a-z. translate is codepoint-wise
# on both engines, so fold(NFC form) == fold(NFD form) by construction
# -- a both-engine-identical fold a dedup oracle can share.
#
# Repertoire contract (found by this fuzz's first run): the NFC/NFD
# invariant holds ONLY over the map's covered repertoire -- an
# UNCOVERED precomposed char (hypothesis composed Z+U+0301 -> 'Ź')
# stays unfolded in NFC form while its NFD form folds to the base
# letter. Cross-engine equality is unconditional; a dedup tier on this
# fold must state its covered repertoire (or extend the map), so the fuzz
# alphabet below is the covered set plus combining marks whose
# compositions stay inside it.

_FOLD_SRC = (
    "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖòóôõöÙÚÛÜùúûüÇçÑñÝýÿ"
    + "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    + "".join(chr(c) for c in range(0x300, 0x370))
)
_FOLD_DST = (
    "aaaaaaaaaaaaeeeeeeeeiiiiiiiioooooooooouuuuuuuuccnnyyy"
    + "abcdefghijklmnopqrstuvwxyz"
)

_fold_texts = st.lists(
    st.text(
        # covered letters + marks whose compositions stay covered:
        # {a,e,A,E} x {U+0300 grave, U+0301 acute} all precompose
        # into the map; accents on ñ/é/À etc. compose no further
        alphabet=["\u00e9", "\u00c9", "\u00e8", "\u00c8", "\u00e0", "\u00c0",
                  "\u00f1", "\u00d1", " ", "e", "a", "A", "E", "-",
                  "\u0300", "\u0301"],
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_fold_texts)
def test_unicode_fold_cross_engine_and_nfc_nfd_invariant_fuzz(texts):
    import unicodedata

    import duckdb

    spark = _spark()
    rows = []
    for i, t in enumerate(texts):
        rows.append((3 * i, unicodedata.normalize("NFC", t)))
        rows.append((3 * i + 1, unicodedata.normalize("NFD", t)))
        rows.append((3 * i + 2, t))
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: r["f"]
        for r in df.select("i", F.translate("t", _FOLD_SRC, _FOLD_DST).alias("f")).collect()
    }
    con = duckdb.connect()
    want = {
        i: f
        for i, f in con.execute(
            "SELECT i, translate(t, ?, ?) FROM (SELECT unnest(?) AS i, unnest(?) AS t)",
            [_FOLD_SRC, _FOLD_DST, [r[0] for r in rows], [r[1] for r in rows]],
        ).fetchall()
    }
    assert got == want, (texts, got, want)
    # NFC and NFD forms of the same text fold identically
    for i in range(len(texts)):
        assert got[3 * i] == got[3 * i + 1], (texts[i], got[3 * i], got[3 * i + 1])


# --- r11: scoped grapheme-length parity. Over text WITHOUT ZWJ sequences,
# regional indicators, or Hangul jamo, an extended grapheme cluster is
# exactly a base codepoint plus its combining marks -- so the count is
# JVM-side expressible with NO kernel: length after stripping
# \p{Mn}\p{Me}. DuckDB's native length_grapheme must agree on that
# repertoire; that pair is the cross-engine oracle. Second contract found by
# this fuzz's first run: a LEADING mark run has no base to attach to
# and forms one degenerate cluster of its own (UAX#29 GB9 only glues
# marks to a PRECEDING char), hence the +1 start-of-string term.

_grapheme_texts = st.lists(
    st.text(
        alphabet=["e", "a", "Z", " ", "-", "é", "ñ", "̀", "́", "̧", "⃝"],
        min_size=0,
        max_size=15,
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_grapheme_texts)
def test_scoped_grapheme_length_cross_engine_fuzz(texts):
    import duckdb

    spark = _spark()
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (r["cp"], r["g"])
        for r in df.select(
            "i",
            F.length("t").alias("cp"),
            (
                F.length(F.regexp_replace("t", r"[\p{Mn}\p{Me}]", ""))
                + F.when(F.col("t").rlike(r"^[\p{Mn}\p{Me}]"), F.lit(1)).otherwise(F.lit(0))
            ).alias("g"),
        ).collect()
    }
    con = duckdb.connect()
    want = {
        i: (cp, g)
        for i, cp, g in con.execute(
            "SELECT i, length(t), length_grapheme(t) FROM (SELECT unnest(?) AS i, unnest(?) AS t)",
            [[r[0] for r in rows], [r[1] for r in rows]],
        ).fetchall()
    }
    assert got == want, (texts, got, want)


# ---------------------------------------------------------------------------
# r12 fuzz beachhead (VERDICT r11 item 7)
# ---------------------------------------------------------------------------

_sky_anti = st.integers(min_value=2, max_value=40)
_sky_extra = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=50, allow_nan=False),
        st.floats(min_value=-50, max_value=0, allow_nan=False),
    ),
    max_size=20,
)


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_sky_anti, _sky_extra)
def test_skyline_anticorrelated_frontier(m, extra):
    """The skyline merge pass stays EXACT when the frontier is a large
    fraction of n (the docstring's anti-correlated worst case): m
    points on a perfect (min x, max y) diagonal are ALL undominated, so
    every local frontier forwards them and the merge task holds ~n
    rows -- the result must still equal the O(n^2) dominance model.
    Dominated filler (x >= 0, y <= 0 is beaten by the diagonal's
    (0, m) corner... not necessarily -- the model decides) fuzzes the
    pruning around the diagonal."""
    from testlog_etl_spark.operators.skyline import pareto_frontier_2d

    spark = _spark()
    # perfect anti-correlation: (i, m - i) for i in 0..m-1 -- every
    # point is on the frontier (duplicated once to pin the
    # duplicates-survive tie rule)
    pts = [(float(i), float(m - i)) for i in range(m)]
    pts += pts[:2]
    pts += [(float(x), float(y)) for x, y in extra]

    def dominated(p, q):
        return q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])

    want = sorted(
        (i for i, p in enumerate(pts) if not any(dominated(p, q) for q in pts)),
    )
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id long, x double, y double"
    ).repartition(5)
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == want, (m, extra, got, want)
