"""Unit tests for the r07 operators: skyline, Misra-Gries heavy
hitters, edit-distance-1 blocking, z-order/RLE layout, and the
exclusive global running max."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------- skyline


def test_skyline_dominance_and_ties(spark):
    from testlog_etl_spark.operators.skyline import pareto_frontier_2d

    rows = [
        # (id, x=price, y=size)
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # exact duplicate of 1 -> BOTH survive
        (3, 10.0, 4),   # dominated by 1 (equal x, smaller y)
        (4, 12.0, 5),   # dominated by 1 (same y, dearer)
        (5, 12.0, 7),   # frontier (dearer but bigger)
        (6, 9.0, 2),    # frontier (cheapest)
        (7, 11.0, 6),   # dominated by nothing cheaper-with->=y? 10->5, so 6>5: frontier
        (8, 13.0, 7),   # dominated by 5 (same y, dearer)
        (9, 13.0, 1),   # dominated by 6
    ]
    df = spark.createDataFrame(rows, "id long, x double, y long").repartition(4)
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == [1, 2, 5, 6, 7]


def test_skyline_drops_nan_metrics_and_passes_floats_through(spark):
    """r11 mapInArrow passes: null/NaN METRIC rows are dropped (the
    documented contract), while NaN in a PASS-THROUGH float column
    survives as NaN instead of becoming NULL via a pandas round trip."""
    import math

    from testlog_etl_spark.operators.skyline import pareto_frontier_2d

    rows = [
        (1, 10.0, 5, float("nan")),
        (2, float("nan"), 9, 1.0),  # NaN metric: dropped
        (3, None, 9, 1.0),          # null metric: dropped
        (4, 9.0, None, 1.0),        # null metric: dropped
        (5, 12.0, 7, None),         # frontier; null extra stays null
    ]
    df = spark.createDataFrame(rows, "id long, x double, y int, extra double").repartition(3)
    got = {r["id"]: r["extra"] for r in pareto_frontier_2d(df, "x", "y").collect()}
    assert sorted(got) == [1, 5]
    assert math.isnan(got[1])  # NaN pass-through preserved, not nullified
    assert got[5] is None


def test_skyline_matches_bruteforce_random(spark):
    import random

    from testlog_etl_spark.operators.skyline import pareto_frontier_2d

    rng = random.Random(7)
    rows = [(i, float(rng.randint(0, 30)), rng.randint(0, 30)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, x double, y long").repartition(8)
    got = sorted(r["id"] for r in pareto_frontier_2d(df, "x", "y").collect())
    want = sorted(
        i
        for i, x, y in rows
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y)) for _, x2, y2 in rows
        )
    )
    assert got == want


# ----------------------------------------------------------- heavy hitters


def test_misra_gries_recall_and_exact_filter(spark):
    from testlog_etl_spark.operators.sketches import heavy_hitters_exact

    # zipf-ish: item i appears 1000//(i+1) times; many singletons as noise
    rows = []
    for i in range(50):
        rows += [(f"hot{i}",)] * (1000 // (i + 1))
    rows += [(f"noise{j}",) for j in range(5000)]
    df = spark.createDataFrame(rows, "k string").repartition(16)
    n = len(rows)
    k = 100
    got = {r["item"]: r["cnt"] for r in heavy_hitters_exact(df, "k", k=k).collect()}
    from collections import Counter

    exact = Counter(r[0] for r in rows)
    want = {item: c for item, c in exact.items() if c * k > n}
    assert got == want  # exact counts AND exact membership
    assert len(want) > 0  # the test actually exercises hitters


def test_misra_gries_candidate_bound(spark):
    from testlog_etl_spark.operators.sketches import misra_gries_candidates

    rows = [(str(i % 997),) for i in range(20000)]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    cands = misra_gries_candidates(df, "k", k=50).where(F.col("item").isNotNull())
    per_part = (
        cands.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    # each partition's summary is capped at k candidate rows (the one
    # NULL-item row per partition carries its row count, not a candidate)
    assert per_part and all(r["count"] <= 50 for r in per_part)


# ------------------------------------------------------------- editdist-1


def test_editdist1_pairs_exact_vs_bruteforce(spark):
    from testlog_etl_spark.operators.neardup import editdist1_pairs

    names = [
        (1, "alpha"), (2, "alpho"),      # substitution
        (3, "alph"),                     # deletion of 1
        (4, "alphaa"),                   # insertion on 1
        (5, "beta"), (6, "beta"),        # exact duplicates
        (7, "gamma"), (8, "gamm"),       # deletion
        (9, "delta"),                    # no neighbor
        (10, "dleta"),                   # transposition = ed 2 from delta -> NOT a pair
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in editdist1_pairs(df, "id", "name").collect()
    )

    def ed(a: str, b: str) -> int:
        import numpy as np

        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[-1])

    want = sorted(
        (a_id, b_id)
        for ai, (a_id, a) in enumerate(names)
        for b_id, b in (names[j] for j in range(ai + 1, len(names)))
        if ed(a, b) <= 1
    )
    assert got == want
    assert (9, 10) not in got  # transposition is distance 2


def test_editdist1_null_keys_ignored(spark):
    from testlog_etl_spark.operators.neardup import editdist1_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, "abd")], "id long, name string"
    )
    got = [(r["id_a"], r["id_b"]) for r in editdist1_pairs(df, "id", "name").collect()]
    assert got == [(1, 3)]


# ------------------------------------------------------------------ layout


def test_zorder_value_matches_reference_interleave(spark):
    from testlog_etl_spark.operators.layout import zorder_value

    def morton(x: int, y: int, bits: int = 8) -> int:
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(x, y) for x in (0, 1, 5, 17, 255) for y in (0, 2, 9, 128, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select("x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")).collect()
    for r in got:
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_locality_beats_single_column(spark):
    """The point of z-order: bucketing by z keeps BOTH dims' per-bucket
    spans small; bucketing by x alone leaves y unconstrained."""
    from testlog_etl_spark.operators.layout import zorder_value

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    z = df.select(
        "x", "y", F.shiftright(zorder_value(F.col("x"), F.col("y"), 6), 6).alias("b")
    )
    spans = z.groupBy("b").agg(
        (F.max("x") - F.min("x")).alias("xs"), (F.max("y") - F.min("y")).alias("ys")
    ).agg(F.avg("xs").alias("xs"), F.avg("ys").alias("ys")).collect()[0]
    # 64 buckets over a 64x64 grid: z-tiles are 8x8 -> both spans ~7.
    assert spans["xs"] < 16 and spans["ys"] < 16


def test_rle_runs_exact_with_boundary_stitch(spark):
    from testlog_etl_spark.operators.layout import rle_runs

    # value blocks deliberately larger than rows/partitions so runs SPAN
    # range-partition boundaries and exercise the driver stitch
    rows = [(i, "A" if i < 400 else "B" if i < 500 else "C") for i in range(600)]
    df = spark.createDataFrame(rows, "i long, v string")
    got = rle_runs(df, [F.col("i")], ["v"], num_parts=8)
    assert got == {"v": 3}
    # reversed order gives the same block count here (blocks reverse)
    got_rev = rle_runs(df, [F.col("i").desc()], ["v"], num_parts=8)
    assert got_rev == {"v": 3}


def test_rle_runs_null_and_alternating(spark):
    from testlog_etl_spark.operators.layout import rle_runs

    rows = [(0, None), (1, None), (2, "x"), (3, None), (4, "x"), (5, "x")]
    df = spark.createDataFrame(rows, "i long, v string")
    got = rle_runs(df, [F.col("i")], ["v"], num_parts=3)
    assert got == {"v": 4}  # null,null | x | null | x,x


# -------------------------------------------------------- running max scan


def test_global_running_max_inclusive_exclusive(spark):
    from testlog_etl_spark.operators.scan import ScanSpec, global_scan

    rows = [(1, 5.0), (2, 3.0), (3, 9.0), (4, 2.0), (5, 9.5), (6, 1.0)]
    df = spark.createDataFrame(rows, "i long, v double").repartition(4)

    def run(exclusive):
        spec = ScanSpec(("i",), val="v", max="m", exclusive=exclusive)
        return {r["i"]: r["m"] for r in global_scan(df, [spec], num_buckets=3).collect()}

    inc = run(False)
    assert inc == {1: 5.0, 2: 5.0, 3: 9.0, 4: 9.0, 5: 9.5, 6: 9.5}
    exc = run(True)
    assert exc[1] is None
    assert {k: v for k, v in exc.items() if k > 1} == {
        2: 5.0, 3: 5.0, 4: 9.0, 5: 9.0, 6: 9.5
    }


# ------------------------------------------------------------ bitmap sketch


def test_bitmap_words_merge_exactness(spark):
    """The load-bearing sketch contract: merging per-bucket word rows
    gives the IDENTICAL distinct as sketching the unioned raw rows --
    bitwise OR is a lattice join, grouping cannot change it."""
    from testlog_etl_spark.operators.sketches import (
        bitmap_merge_distinct,
        bitmap_words,
    )

    rows = [(d, u) for d in range(5) for u in range(0, 300, d + 1)]
    df = spark.createDataFrame(rows, "day int, uid long").repartition(8)
    daily = bitmap_words(df, ["day"], "uid")
    merged = bitmap_merge_distinct(daily, [], out="n").collect()[0]["n"]
    direct_words = bitmap_words(df.select(F.lit(0).alias("one"), "uid"), ["one"], "uid")
    direct = bitmap_merge_distinct(direct_words, ["one"], out="n").collect()[0]["n"]
    exact = df.select("uid").distinct().count()
    assert merged == direct == exact


def test_bitmap_words_bit_placement(spark):
    from testlog_etl_spark.operators.sketches import bitmap_words

    df = spark.createDataFrame([(0, 0), (0, 63), (0, 64), (0, 127)], "g int, uid long")
    got = {
        r["_w"]: r["_bits"] for r in bitmap_words(df, ["g"], "uid").collect()
    }
    # word 0: bits 0 and 63 -> 1 | min_long; word 1: bits 0 and 63 again
    assert got[0] == got[1] == 1 | -(1 << 63)


# ---------------------------------------------------------------- jackknife


def test_jackknife_matches_closed_form(spark):
    """For the MEAN, delete-one-group jackknife has a closed form; the
    query's bucket arithmetic must reproduce a NumPy reference on the
    same bucket partition."""
    import numpy as np

    from testlog_etl_spark.suite import REGISTRY, _load_all

    _load_all()
    row = REGISTRY["stats_jackknife_ci"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    want = con.execute(REGISTRY["stats_jackknife_ci"].oracle).fetchall()[0]
    assert (
        row["mean_price"], row["jk_se"], row["ci_lo"], row["ci_hi"], row["n_buckets"]
    ) == want
    assert row["ci_lo"] < row["mean_price"] < row["ci_hi"]
    assert row["jk_se"] > 0


# ------------------------------------------------------------------- BFS


def test_bfs_levels_min_hop_and_early_stop(spark):
    from testlog_etl_spark.operators.dupgroups import bfs_levels

    # 1-2-3-4 chain plus a 1->4 shortcut: min-hop for 4 must be 1, not 3.
    e0 = [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5), (9, 10)]  # 9-10 unreachable
    edges = spark.createDataFrame(
        e0 + [(b, a) for a, b in e0], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    lv = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_iter=10).collect()}
    assert lv == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}  # early stop before iter 10


def test_bfs_levels_multi_source_takes_nearest_seed(spark):
    from testlog_etl_spark.operators.dupgroups import bfs_levels

    e0 = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        e0 + [(b, a) for a, b in e0], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    lv = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_iter=10).collect()}
    assert lv == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_levels_respects_iteration_cap(spark):
    from testlog_etl_spark.operators.dupgroups import bfs_levels

    e0 = [(i, i + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(
        e0 + [(b, a) for a, b in e0], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    lv = {r["node"]: r["lvl"] for r in bfs_levels(edges, seeds, max_iter=3).collect()}
    assert lv == {1: 0, 2: 1, 3: 2, 4: 3}  # nodes 5.. beyond the cap excluded


# --------------------------- prefix-filtered Jaccard and containment joins


def _shingles(text):
    w = text.split()
    return sorted({" ".join(w[i : i + 3]) for i in range(len(w) - 2)})


def test_prefix_filter_matches_bruteforce_pairs(spark):
    """Both prefix-filter operators against their brute-force pair-scan
    twins: the unordered id_a < id_b Jaccard scan and the ordered
    id_a != id_b containment scan, on sets of every size relation."""
    from testlog_etl_spark.operators.neardup import (
        containment_pairs_prefix_filtered,
        jaccard,
        jaccard_pairs_prefix_filtered,
    )

    rows = [
        (1, ["a", "b", "c", "d"]),
        (2, ["a", "b", "c", "e"]),       # J(1,2)=3/5=0.6
        (3, ["a", "b", "c", "d"]),       # J(1,3)=1.0
        (4, ["x", "y"]),                  # J with others = 0
        (5, ["x", "y", "z"]),             # J(4,5)=2/3
        (6, []),                          # empty set: never qualifies
        (7, ["q"]),
        (8, ["q"]),                       # J(7,8)=1.0 singleton sets
        (9, _shingles("a b c d e f g h i j")),
        (10, _shingles("a b c d e f g h i j")),   # identical to 9
        (11, _shingles("a b c d e f")),           # prefix of 9: C(11 in 9)=1
        (12, _shingles("a b c")),                 # tiny: one shingle
        (13, _shingles("z z")),                   # < 3 tokens: empty set
        (14, _shingles("a b c d e f g h i j k l m n o p q r s t")),  # double of 9
    ]
    d = spark.createDataFrame(rows, "doc_id long, sh array<string>").repartition(3)

    def sides(da, db):
        a = da.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = db.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        return a, b

    for t in (0.5, 0.9):
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in jaccard_pairs_prefix_filtered(d, "doc_id", "sh", t).collect()
        }
        a, b = sides(d, d)
        brute = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("j", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("j") >= t)
        )
        want = {(r["id_a"], r["id_b"]): round(r["j"], 6) for r in brute.collect()}
        assert got == want and want, f"jaccard threshold {t}"

    def contained(da, db, t):
        a, b = sides(da.filter(F.size("sh") > 0), db)  # C(empty in B) is undefined
        c = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size("sh_a")
        brute = a.join(b, F.col("id_a") != F.col("id_b")).withColumn("c", c).filter(F.col("c") >= t)
        return {(r["id_a"], r["id_b"]): r["c"] for r in brute.collect()}

    # dedup_containment's pre-filter: |A| >= 3 on both sides
    big = d.filter(F.size("sh") >= 3)
    for t in (0.5, 0.8, 0.9):
        for pre in (False, True):
            src = big if pre else d
            got = {
                (r["id_a"], r["id_b"]): r["containment"]
                for r in containment_pairs_prefix_filtered(src, "doc_id", "sh", t).collect()
            }
            assert got == contained(src, src, t) and got, f"containment threshold {t}, pre={pre}"
            if pre and t > 2 / 3:
                # the query's contract filters only the contained side;
                # above 2/3, |A| >= 3 forces |B| >= 3, so the container
                # side's filter drops nothing
                assert got == contained(big, d, t), f"containment threshold {t}"


# ------------------------------------------------------ largest remainder


def test_largest_remainder_exact_total_and_monotone(spark):
    from testlog_etl_spark.suite import REGISTRY

    out = REGISTRY["agg_largest_remainder"].fn(spark, "/root/testdata/sf0.001").collect()
    assert sum(r["seats"] for r in out) == 1000  # apportionment is exact
    # more customers never means fewer seats under Hamilton with equal quotas
    by_cnt = sorted(out, key=lambda r: (r["customers"], r["n_name"]))
    for lo, hi in zip(by_cnt, by_cnt[1:]):
        if hi["customers"] > lo["customers"]:
            assert hi["seats"] >= lo["seats"]


# ------------------------------------------------------ interval coalesce


def test_coalesce_intervals_touching_overlap_and_gaps(spark):
    import datetime as dt

    from testlog_etl_spark.operators.timeseries import coalesce_intervals

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # key a: [0,10) + [10,20) touch -> one island; [30,40) separate
        ("a", T(0), T(10)),
        ("a", T(10), T(20)),
        ("a", T(30), T(40)),
        # key a: nested + simultaneous starts
        ("a", T(32), T(35)),
        # key b: two intervals starting at the SAME instant from zero
        ("b", T(5), T(15)),
        ("b", T(5), T(25)),
        # key c: exact duplicate intervals
        ("c", T(1), T(2)),
        ("c", T(1), T(2)),
    ]
    df = spark.createDataFrame(
        rows, "k string, s timestamp, e timestamp"
    ).repartition(4)
    out = coalesce_intervals(df, "k", "s", "e", num_parts=4).collect()
    got = sorted((r["k"], r["island_start"].minute, r["island_end"].minute) for r in out)
    assert got == [
        ("a", 0, 20),
        ("a", 30, 40),
        ("b", 5, 25),
        ("c", 1, 2),
    ]


# ------------------------------------------------------------ RRF fusion


def test_rrf_fusion_scores_and_missing_items(spark):
    from testlog_etl_spark.operators.postings import rrf_fusion

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(3, 1), (1, 2), (9, 3)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in rrf_fusion([a, b], "doc_id", c=60, k=10).collect()}
    assert round(out[1]["rrf"], 6) == round(1 / 61 + 1 / 62, 6)
    assert round(out[3]["rrf"], 6) == round(1 / 63 + 1 / 61, 6)
    assert round(out[2]["rrf"], 6) == round(1 / 62, 6)  # missing from b
    assert out[9]["rank_0"] is None and out[9]["rank_1"] == 3
    # doc 1 and doc 3 tie-break by id when scores tie; here 1 and 3 share
    # the same contribution multiset so rrf is equal -> doc 1 ranks first
    assert out[1]["rank"] == 1 and out[3]["rank"] == 2


# ----------------------------------------------------------- Jaro-Winkler


@pytest.mark.slow
def test_jaro_winkler_matches_duckdb_on_real_names(spark):
    import duckdb

    from testlog_etl_spark.operators.strsim import jaro_winkler

    names = [
        r["p_name"]
        for r in spark.read.parquet("/root/testdata/sf0.01/part.parquet")
        .select("p_name")
        .distinct()
        .collect()
    ]
    # every blocked pair (same setup as the query) plus adversarial edges
    pairs = [(a, b) for a in names for b in names if a[:2] == b[:2]]
    pairs += [("", ""), ("", "x"), ("ab", "ab"), ("martha", "marhta")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r["a"], r["b"]): r["jw"]
        for r in df.withColumn("jw", jaro_winkler(F.col("a"), F.col("b"))).collect()
    }
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute("SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


# ------------------------------------------------------- Poisson bootstrap


def test_poisson_bootstrap_weights_and_ci_shape(spark):
    from testlog_etl_spark.suite import REGISTRY

    row = REGISTRY["stats_bootstrap_poisson"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(row) == 1
    r = row[0]
    assert r["n_replicates"] == 32
    assert r["ci_lo"] <= r["boot_mean"] <= r["ci_hi"]
    # the CI must bracket the point estimate for a mean statistic
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]


# ------------------------------------------------------- balanced shards


def test_balanced_shards_cover_all_docs_and_balance(spark):
    from testlog_etl_spark.suite import REGISTRY

    out = REGISTRY["corpus_balanced_shards"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 16
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-3
    toks = [r["shard_tokens"] for r in out]
    # sorted round-robin keeps shard totals within a small factor
    assert max(toks) <= 1.25 * min(toks)


# ------------------------------------------------------------ Holt linear


def test_holt_linear_hand_computed(spark, tmp_path):
    import datetime as dt

    from testlog_etl_spark.suite import REGISTRY

    # hand replay: y = [2, 4, 8]; l1=2, b1=2
    # t2: l = .5*4 + .5*(2+2) = 4;  b = .5*(4-2) + .5*2 = 2
    # t3: l = .5*8 + .5*(4+2) = 7;  b = .5*(7-4) + .5*2 = 2.5
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, i), i, "view", float(y), None)
        for i, y in enumerate([2, 4, 8])
    ] + [(99, dt.datetime(2024, 1, 1), 10, "view", 5.0, None)]  # single event: dropped
    df = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in REGISTRY["ts_holt_linear"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1}
    assert (out[1]["level"], out[1]["trend"], out[1]["forecast_next"]) == (7.0, 2.5, 9.5)
    assert out[1]["n_events"] == 3


# ------------------------------------------------- block checksum diff


def test_block_checksum_flags_only_corrupted_blocks(spark):
    from testlog_etl_spark.suite import REGISTRY

    out = REGISTRY["dq_block_checksum_diff"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) >= 60  # 64 blocks, some may be empty at tiny sf
    dirty = [r for r in out if not r["block_clean"]]
    clean = [r for r in out if r["block_clean"]]
    # the corruption model touches ~40% of rows spread over the key
    # hash, so SOME blocks must differ and clean blocks must agree on n
    assert dirty, "corruption must surface"
    for r in clean:
        assert r["n_v1"] == r["n_v2"]


# --------------------------------------------------- asof with tolerance


def test_asof_tolerance_nulls_stale_matches(spark):
    from testlog_etl_spark.suite import REGISTRY

    rows = REGISTRY["asof_tolerance_join"].fn(spark, "/root/testdata/sf0.001").collect()
    import datetime as dt

    for r in rows:
        if r["ts_asof"] is not None:
            t = dt.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
            m = dt.datetime.strptime(r["ts_asof"], "%Y-%m-%d %H:%M:%S")
            assert dt.timedelta(0) <= t - m <= dt.timedelta(hours=24)
            assert r["pval_asof"] is not None
        else:
            assert r["pval_asof"] is None


# --------------------------------------------------------- power iteration


@pytest.mark.slow
def test_power_iteration_recovers_planted_direction(spark):
    from testlog_etl_spark.operators.linalg import power_iteration_top_pc

    # plant a dominant direction e1 with noise in e2..e4
    rows = []
    for i in range(200):
        s = 10.0 if i % 2 == 0 else -10.0
        rows.append((i, [s, (i % 7) * 0.1, (i % 5) * 0.1, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    v, lam = power_iteration_top_pc(df, "v", dim=4, n_iter=6)
    # unit norm (up to grid snap) and dominated by component 1
    assert abs(sum(c * c for c in v) - 1.0) < 1e-4
    assert abs(v[0]) > 0.99
    assert lam > 0


@pytest.mark.slow
def test_power_iteration_unit_vector_invariant_on_embeddings(spark):
    from testlog_etl_spark.suite import REGISTRY

    out = REGISTRY["embed_top_principal"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 64
    assert abs(sum(r["loading"] ** 2 for r in out) - 1.0) < 1e-4
    assert len({r["eigenvalue"] for r in out}) == 1


# ----------------------------------------------- late-batch invariants


def test_threshold_sweep_is_monotone(spark):
    from testlog_etl_spark.suite import REGISTRY

    out = sorted(
        REGISTRY["corpus_threshold_sweep"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in out] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for lo, hi in zip(out, out[1:]):
        # tightening the threshold can only shrink pairs and dup docs
        assert hi["n_pairs"] <= lo["n_pairs"]
        assert hi["n_dup_docs"] <= lo["n_dup_docs"]


def test_ndcg_bounds_and_ideal_dominance(spark):
    from testlog_etl_spark.suite import REGISTRY

    r = REGISTRY["eval_dcg_ndcg"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r["dcg"] <= r["idcg"]
    assert 0 <= r["ndcg"] <= 1


@pytest.mark.slow
def test_pq_recall_bounds(spark):
    from testlog_etl_spark.suite import REGISTRY

    rows = REGISTRY["eval_pq_recall"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "20 query rows expected"
    for r in rows:
        assert 0 <= r["n_overlap"] <= 5
        assert abs(r["recall"] - r["n_overlap"] / 5) < 1e-9


def test_woe_iv_terms_nonnegative(spark):
    from testlog_etl_spark.suite import REGISTRY

    rows = REGISTRY["features_woe_encoding"].fn(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        # (g-b)*ln(g/b) >= 0 always; rounding can only graze zero
        assert r["iv_term"] >= -1e-6, r


# ------------------------------------------------------------- k-core


def test_kcore_peeling_cascade(spark):
    from testlog_etl_spark.operators.dupgroups import kcore_peel

    # K4 clique (each node degree 3) + a pendant chain hanging off node 1.
    # 3-core: the clique survives; the chain peels away over two rounds
    # (5 drops, then 4 loses its support).
    clique = [(a, b) for a in (1, 2, 3, 10) for b in (1, 2, 3, 10) if a != b]
    chain = [(1, 4), (4, 1), (4, 5), (5, 4)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    out = {r["node"]: r["deg"] for r in kcore_peel(edges, k=3, n_rounds=4).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 10: 3}


def test_bitmap_retention_bounds(spark):
    from testlog_etl_spark.suite import REGISTRY

    rows = REGISTRY["events_bitmap_retention"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_retained_next"] <= r["n_active"]
        assert 0.0 <= r["retention_next_week"] <= 1.0


# ------------------------------------------------- Damerau-Levenshtein


@pytest.mark.slow
def test_damerau_matches_duckdb_on_real_names(spark):
    import duckdb

    from pyspark.sql import functions as F  # noqa: F811

    from testlog_etl_spark.operators.strsim import damerau_levenshtein

    names = [
        r["p_name"]
        for r in spark.read.parquet("/root/testdata/sf0.01/part.parquet")
        .select("p_name")
        .distinct()
        .collect()
    ]
    pairs = [(a, b) for a in names for b in names if a[:2] == b[:2]]
    pairs += [("CA", "ABC"), ("ab", "ba"), ("", "x"), ("", "")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r["a"], r["b"]): r["dl"]
        for r in df.withColumn("dl", damerau_levenshtein(F.col("a"), F.col("b"))).collect()
    }
    con = duckdb.connect()
    for a, b in pairs:
        want = con.execute("SELECT damerau_levenshtein(?, ?)", [a, b]).fetchone()[0]
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_mean_family_am_gm_hm_inequality(spark):
    from testlog_etl_spark.suite import REGISTRY

    rows = REGISTRY["agg_mean_family"].fn(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert r["mean_arith"] >= r["mean_geometric"] >= r["mean_harmonic"], r


# ---------------------------------------------------------------- SSSP


def test_sssp_weighted_beats_fewer_hops(spark):
    from testlog_etl_spark.operators.dupgroups import sssp_bellman_ford

    # 1->3 direct costs 10; 1->2->3 costs 2+3=5: more hops, shorter path
    e = [(1, 3, 10), (1, 2, 2), (2, 3, 3), (3, 4, 1)]
    edges = spark.createDataFrame(e, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")
    d = {r["node"]: r["dist"] for r in sssp_bellman_ford(edges, seeds, n_rounds=4).collect()}
    assert d == {1: 0, 2: 2, 3: 5, 4: 6}
