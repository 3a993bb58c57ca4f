#!/usr/bin/env python3
"""Regenerate PLANS.md: the physical plans of the headline queries as a
committed, diffable artifact. Pairs with tools/shuffle_audit.py (the
measured exchange volumes) and tests/test_plans.py (the pinned plan
properties): the audit says how many bytes moved, the tests say what
must hold, this shows the actual plan a reviewer audits.

Usage: python tools/plan_dump.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHOWCASE = [
    ("q1_pricing_summary", "scan-bound groupBy: partial_* aggregates before the 4-group exchange"),
    ("q5_local_supplier_volume", "star join: BroadcastHashJoin only on fixed dims; facts AQE-selected"),
    ("q21_suppliers_kept_waiting", "EXISTS/NOT-EXISTS as window aggregates over ONE orderkey exchange"),
    ("q19_disjunctive_revenue", "OR-of-ANDs keeps the extracted equi-conjunct: hash join, not BNLJ"),
    ("dedup_minhash_lsh", "band groupBy + in-bucket pair expansion moves (id, band) once; shingles never ride an exchange"),
    ("sim_lsh_topk", "(table, sig) equi-join candidates; vectors rejoin after pair dedup"),
    ("dedup_semantic", "cell equi-join; vector crosses its one exchange once per side"),
    ("sessionize_batch", "per-user window chain over one exchange; session ids via running sum"),
    ("graph_pagerank", "per-round broadcast rank join + (node, double) sum shuffle"),
    ("mv_incremental_maintain", "MV merge: union of partials re-aggregated on the key"),
    ("topk_per_group_agg", "grouped top-k: row_number() <= k with WindowGroupLimit Partial before the group exchange -- no whole-group sort, no Python"),
    ("dedup_hamming_prefix", "pigeonhole chunk equi-join candidates (exact); positionwise codegen verify after pair dedup"),
    ("snapshot_diff_orders", "CDC diff: ONE full-outer key exchange; null-safe compares in codegen"),
    ("q2_min_cost_supplier", "offer table reused for candidates AND per-part min; dims broadcast; TakeOrdered winner cut"),
    ("agg_gini_concentration", "hierarchical scan rank (range partition + broadcast offsets) -- no unpartitioned window over the customer grain"),
    ("agg_abc_pareto", "hierarchical scan cumsum over the part grain; grand total from the same pass"),
    ("join_bloom_prefilter", "Bloom bitset probe filters lineitem INSIDE its scan stage, before the merge-join exchange"),
    ("topk_global_paging", "rank page = filter on the scan's global rank; no single-task OFFSET sort"),
    ("graph_subtree_rollup", "pointer-doubling closure: log2(depth) join rounds; ancestor-keyed rollup"),
    ("corpus_mixture_weights", "one corpus-scale rollup exchange; bounded windows over the strata frame"),
    ("dedup_jaccard_prefixfilter", "PPJoin: prefix><postings equi-join candidates (linear in tokens); exact verify after pair dedup -- no crossjoin"),
    ("ts_interval_coalesce", "netted (key, instant) boundaries through the hierarchical keyed scan; island pairing on marker rows"),
    ("stats_bootstrap_poisson", "32x replicate explode collapses in partial HashAggregate; exchange carries one row per (partition, replicate)"),
    ("search_rrf_fusion", "every ranking cut is TakeOrderedAndProject; fusion joins run on k-row lists"),
    ("dq_block_checksum_diff", "two 64-row block rollups full-outer-joined; rows never cross -- the anti-entropy shape"),
    ("stats_mann_whitney", "per-VALUE rollup + partitioned rank window; tie-corrected U from 8-byte exchanges"),
    ("agg_lorenz_deciles", "hierarchical scan rank over the customer grain; cumulative share over the 10-row decile rollup"),
    ("sim_mmr_rerank", "k-bounded candidate + 20x20 pair frames per query; greedy walk in one Arrow fold per query"),
    ("index_trigram_search", "distinct (doc, trigram) semi-join against the 8-row broadcast query set; contains() verify on candidates only"),
    ("join_radius_grid", "3x3 grid-cell offset equi-join candidates; exact distance verify -- no crossjoin"),
    ("layout_hilbert_pruning", "Hilbert fold as a Project ladder (linear plan size, one codegen span); only 256 bucket partials cross the one exchange"),
    ("sql_recursive_cte_ancestors", "WITH RECURSIVE: log2(max id) UnionLoop rounds, each an equi-join against the prior frontier"),
    ("orders_rfm_segments", "three metric quintiles via hierarchical range-scan ranks -- no unpartitioned ntile over the customer grain"),
    ("agg_binned_quantile", "histogram sketch: partial counts collapse map-side; quantile walk over the 256-row bin frame"),
    ("embed_kmeans_one_step", "row-local argmin against the broadcast centroid array; the only exchange is the (cid, dim) rollup"),
    ("eval_lift_gains_table", "hierarchical-scan rank + running positives; deciles from rank arithmetic, no NTILE exchange"),
    ("graph_linkpred_scores", "wedge equi-join through the common endpoint; degree-bounded fan-out, anti-join vs existing edges"),
    ("dedup_phonetic_blocking", "block-key equi-join pairs; levenshtein verify runs post-join inside the stage"),
    ("agg_cardinality_median", "JX median/percentile via rank-selection scan: (key,value,count) rollup through one range exchange, NO buffering percentile() aggregate anywhere in the plan"),
    ("edges_percentile_cells", "dense-cube quantile cells ride the same rank-selection scan, joined before densify; empty cells stay NULL"),
]


def main() -> None:
    from testlog_etl_spark import suite
    from testlog_etl_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = suite.queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    print("# PLANS — physical plans of the headline queries (regenerate: `python tools/plan_dump.py > PLANS.md`)")
    print()
    print(f"Captured at sf dir `{sf}`; plan SHAPE is SF-independent except where AQE")
    print("re-selects join strategies at runtime (those nodes show as AdaptiveSparkPlan).")
    print("Measured exchange volumes for the same queries: SCALE.md \"Measured shuffle")
    print("volumes\"; machine-checked plan properties: tests/test_plans.py.")
    for name, note in SHOWCASE:
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="simple")
        print(f"\n## {name}\n\n*{note}*\n\n```")
        print(buf.getvalue().rstrip())
        print("```")


if __name__ == "__main__":
    main()
