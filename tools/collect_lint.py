#!/usr/bin/env python3
"""Mechanical gate for driver-side materialization: every ``.collect()``
/ ``.toPandas()`` / ``.collectAsMap()`` / ``.toLocalIterator()`` call
site in the package must be WHITELISTED with a written boundedness
argument, or the lint fails.

Why a gate: a collect whose row count scales with the data is the
quiet way a "distributed" operator degenerates into a driver loop --
it passes every sf0.01 correctness check and falls over at 100 TB.
Every current site collects a frame that is bounded by CONSTRUCTION
(per-partition totals, limit()-capped domains, k-row panels, fixed-
width bitmaps); this lint pins that invariant the same way
window_lint.py pins the no-unpartitioned-window invariant: adding a
new collect site forces writing down why it is bounded.

Static AST scan -- no Spark session, runs in milliseconds. Stale
whitelist entries (function gone or no longer collecting) are flagged
too, so the list cannot rot.

Usage: python tools/collect_lint.py            # exit 0 iff clean
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "testlog_etl_spark")

COLLECT_ATTRS = {"collect", "toPandas", "collectAsMap", "toLocalIterator"}

# "relpath::qualified.function" -> why the collected frame is bounded
# by construction (NOT by the sandbox's data size).
WHITELIST: dict[str, str] = {
    "query.py::format_table": "caller-facing output format: materializing IS the API; cube/table cells bounded by edge domains or caller limit",
    "query.py::format_list": "caller-facing output format (see format_table)",
    "query.py::format_cube": "cube cells bounded by edge-domain cardinality product",
    "__main__.py::_show": "CLI presentation of an already-limited frame",
    "operators/packing.py::with_stream_offsets": "per-partition token totals: one row per range partition",
    "operators/edges.py::_resolve_others": "distinct edge parts capped by limit(e.limit or DEFAULT_EDGE_LIMIT)",
    "operators/bloom.py::build_bloom_bits": "fixed-size bitmap: one row per 64-bit word, m_words total",
    "operators/layout.py::rle_runs": "one summary row per partition (mapInPandas yields <=1 row each)",
    "operators/linalg.py::power_iteration_top_pc": "one row per embedding dimension d",
    "operators/similarity.py::kmeans_fit": "k-row centroid panels (init sample and per-iteration centroids)",
    "operators/timeseries.py::sweep_concurrency": "per-partition boundary totals: one row per range partition",
    "operators/timeseries.py::coalesce_intervals": "per-partition boundary totals: one row per range partition",
    "queries/streaming_queries.py::stream_hourly_distinct": "1-row global max(ts) horizon",
    "queries/streaming_queries.py::stream_histogram_quantile_maintenance": "memory-sink snapshot of a fixed-bucket histogram stream (bucket count is the frame)",
    "queries/etl_queries.py::attribution_markov_removal": "channel-transition edges: limit(4096+1) capped collect that RAISES past the cap (r10) -- the channel-domain-squared bound is checked, not assumed",
}


def scan() -> tuple[list[str], set[str]]:
    hits: list[str] = []  # "relpath::func line N .attr()"
    seen_keys: set[str] = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            try:
                tree = ast.parse(open(path).read())
            except SyntaxError as e:  # pragma: no cover
                hits.append(f"{rel}::<parse-error> line {e.lineno}")
                continue

            def walk(node: ast.AST, stack: list[str]) -> None:
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                        walk(child, stack + [child.name])
                        continue
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr in COLLECT_ATTRS
                    ):
                        key = f"{rel}::{'.'.join(stack) or '<module>'}"
                        seen_keys.add(key)
                        if key not in WHITELIST:
                            hits.append(f"{key} line {child.lineno} .{child.func.attr}()")
                    walk(child, stack)

            walk(tree, [])
    return hits, seen_keys


def main() -> int:
    flagged, seen = scan()
    stale = sorted(set(WHITELIST) - seen)
    for h in flagged:
        print(f"FLAGGED {h} -- add a boundedness argument to collect_lint.WHITELIST")
    for s in stale:
        print(f"STALE whitelist entry {s} -- function gone or no longer collects; remove it")
    print(f"\nTOTAL sites {len(seen)}  whitelisted {len(seen) - len(set(f.split(' line')[0] for f in flagged))}  FLAGGED {len(flagged)}  stale {len(stale)}")
    return 1 if (flagged or stale) else 0


if __name__ == "__main__":
    sys.exit(main())
