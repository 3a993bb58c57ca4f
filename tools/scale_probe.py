"""Measured-scaling probe: run key operators at sf0.001 / sf0.01 / sf0.1
and at a synthetic 8x replication of sf0.1 (~80x..8000x row spread), and
report wall-clock plus the log-log scaling slope per operator.

A slope near 1.0 means linear scaling (scan-bound, the 100 TB-safe
shape); well below 1.0 means fixed overhead still dominates at these
sizes; well above ~1.15 flags superlinear work (pair blow-up, skew,
driver collection) that would sink a 1000-executor run.

The synthetic tier replicates rows with key offsets so join/group key
cardinality scales WITH the data (pure row duplication would instead
deepen groups and hide superlinear key effects).

Usage: python tools/scale_probe.py [--skip-synth] [--reuse-synth] [QUERY ...]
Writes the synthetic tier under .scale_probe/ (gitignored, safe to rm).
--reuse-synth keeps an already-built tier; positional QUERY names
restrict the run to those queries (default: the QUERIES list below).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

SYNTH_DIR = os.path.join(REPO, ".scale_probe", "sf0.8eq")
SYNTH_COPIES = 8
BASE = "/root/testdata/sf0.1"
OFFSET = 1 << 33  # key offset per copy: far above any real key

# (table, columns whose values must stay unique/consistent across copies)
REKEY = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
}
PASSTHROUGH = ["region", "nation", "supplier", "part"]  # fixed dims: copy once

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "win_running_sum",
    "edges_set_dense",
    "agg_basic_groupby",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "asof_last_purchase",
    "range_join_windows",
]


def build_synth(spark) -> None:
    os.makedirs(os.path.dirname(SYNTH_DIR), exist_ok=True)
    if os.path.isdir(SYNTH_DIR):
        shutil.rmtree(SYNTH_DIR)
    os.makedirs(SYNTH_DIR)
    for name, keys in REKEY.items():
        src = spark.read.parquet(os.path.join(BASE, f"{name}.parquet"))
        parts = []
        for i in range(SYNTH_COPIES):
            df = src
            for kcol in keys:
                df = df.withColumn(kcol, F.col(kcol) + F.lit(i * OFFSET))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(SYNTH_DIR, f"{name}.parquet"))
    for name in PASSTHROUGH:
        spark.read.parquet(os.path.join(BASE, f"{name}.parquet")).write.mode("overwrite").parquet(
            os.path.join(SYNTH_DIR, f"{name}.parquet")
        )


def main() -> None:
    from testlog_etl_spark import suite
    from testlog_etl_spark.session import get_spark

    spark = get_spark("scale-probe")
    qs = dict(suite.queries())

    # probe-only variant (not a registered query): SemDeDup with
    # AUTO-sized cells (n_bits=None). The registered dedup_semantic pins
    # n_bits=6 for its literal-plane DuckDB oracle, which is exactly the
    # fixed-cell-count failure mode the r04 probe measured at slope 1.4;
    # this variant measures the production default the fix ships.
    def _dedup_semantic_auto(sp, sf_dir):
        from pyspark.sql import functions as FF

        from testlog_etl_spark.operators import similarity
        from testlog_etl_spark.tables import load_tables

        emb = load_tables(sp, sf_dir, ("embeddings",))["embeddings"]
        return similarity.semantic_dedup(
            emb, id_col="vec_id", vec_col="embedding", dim=64, threshold=0.45, n_bits=None, seed=7
        ).select("vec_id", "exemplar", FF.round("cosine", 4).alias("cos"))

    qs["dedup_semantic_auto"] = _dedup_semantic_auto

    tiers = [("sf0.001", "/root/testdata/sf0.001", 0.001), ("sf0.01", "/root/testdata/sf0.01", 0.01), ("sf0.1", BASE, 0.1)]
    if "--skip-synth" not in sys.argv:
        if "--reuse-synth" in sys.argv and os.path.isdir(SYNTH_DIR):
            print("# reusing existing synth tier", file=sys.stderr)
        else:
            t0 = time.time()
            build_synth(spark)
            print(f"# synth tier built in {time.time()-t0:.1f}s", file=sys.stderr)
        tiers.append(("sf0.8eq", SYNTH_DIR, 0.8))

    # warm the JVM so tier 1 isn't charged for startup
    qs["q1_pricing_summary"](spark, tiers[0][1]).count()

    wanted = [a for a in sys.argv[1:] if not a.startswith("--")] or QUERIES
    results: dict[str, dict[str, float]] = {}
    for qname in wanted:
        results[qname] = {}
        for tier_name, path, _ in tiers:
            t0 = time.time()
            qs[qname](spark, path).count()
            results[qname][tier_name] = round(time.time() - t0, 3)
            print(f"# {qname} @ {tier_name}: {results[qname][tier_name]}s", file=sys.stderr)

    report = {}
    for qname, times in results.items():
        # slope over the top two tiers (overhead dominates the small ones)
        named = [(sf, times[n]) for n, _, sf in tiers for sf2 in [sf] if (n in times) and (sf2 == sf)]
        top = named[-2:]
        slope = (
            (math.log(top[1][1]) - math.log(top[0][1])) / (math.log(top[1][0]) - math.log(top[0][0]))
            if len(top) == 2 and top[0][1] > 0
            else None
        )
        report[qname] = {"times": times, "top_slope": round(slope, 2) if slope is not None else None}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
