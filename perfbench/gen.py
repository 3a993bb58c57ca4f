"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, a different seed writes different ones.  The
program under test only ever sees the files written here.

* ``write_star_schema`` writes the ten parquet tables the query suite
  reads (TESTDATA.md's star schema plus events, documents, embeddings)
  at scale factor ``sf``, replicated ``copies`` times.  Row counts follow
  TPC-H's ratios (lineitem matches TESTDATA.md's sf0.01); the values are
  uniform or exponential draws, an assumption not fitted to the
  reference data (see perfbench/README.md, "Assumptions in the inputs").  Copy ``i`` follows
  ``tools/scale_probe.py``'s rekey rule: entity keys are offset by
  ``i * 2**33`` so key cardinality grows with the rows (pure duplication
  would only deepen groups), and the non-key measures of copies after
  the first get a seeded +-1% jitter so the copies are not exact twins.
* ``ci_artifacts`` builds the ETL ingest stream: mozlog JSONL artifacts,
  buildbot-style text logs and PERFHERDER_DATA logs, each with a seeded
  share of malformed (unparseable) JSON lines mixed in.  It returns the
  well-formed records too, so the benchmark can recompute the expected
  documents in pure Python.  Artifact sizes and the malformed share are
  assumptions, not measured CI traffic (same README section).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 1 << 33  # per-copy key offset: far above any generated key

# table -> key columns offset per copy (tools/scale_probe.py REKEY)
REKEY = {
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
}
# table -> money-like measures jittered on copies after the first
JITTER = {
    "lineitem": ("l_extendedprice",),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "events": ("value",),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["old", "blue", "hot", "cold", "new", "small", "large", "red"]
_NOUN = ["bolt", "rod", "gizmo", "ring", "widget", "anvil", "plate", "gear"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _base_tables(rng: np.random.Generator, sf: float) -> dict[str, dict[str, object]]:
    """One copy of every table as column dicts (numpy arrays or lists)."""
    n = _counts(sf)
    t: dict[str, dict[str, object]] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": list(_REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    keys = np.arange(npart, dtype="int64")
    t["part"] = {
        "p_partkey": keys,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _EPOCH_1995_US + rng.integers(0, 2405, no) * _DAY_US,
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _EPOCH_1995_US + (1 + rng.integers(0, 2499, nl)) * _DAY_US,
    }
    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne)
    t["events"] = {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _EPOCH_2024_US + np.cumsum(gaps).astype("int64"),
        "user_id": rng.integers(0, n["users"], ne).astype("int64"),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    }
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": vec,
        "label": rng.integers(0, 10, nv).astype("int32"),
    }
    return t


_TS_COLS = {"o_orderdate", "l_shipdate", "ts"}


def _to_arrow(cols: dict[str, object]) -> pa.Table:
    arrays = {}
    for name, values in cols.items():
        if name in _TS_COLS:
            arrays[name] = _ts(np.asarray(values))
        elif name == "embedding":
            flat = pa.array(np.asarray(values).reshape(-1), type=pa.float32())
            arrays[name] = pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32()))
        else:
            arrays[name] = pa.array(values)
    return pa.table(arrays)


def _replicate(rng: np.random.Generator, name: str, cols: dict[str, object], copies: int) -> dict[str, object]:
    """``copies`` rekeyed copies of one table (copy 0 is the base)."""
    if copies == 1 or name not in REKEY:
        return cols
    out: dict[str, object] = {}
    for col, values in cols.items():
        parts = []
        for i in range(copies):
            v = values
            if col in REKEY[name]:
                v = np.asarray(values) + np.int64(i * KEY_OFFSET)
            elif i and col in JITTER.get(name, ()):
                v = np.round(np.asarray(values) * rng.uniform(0.99, 1.01, len(values)), 2)
            parts.append(v)
        if isinstance(values, list):
            out[col] = [x for p in parts for x in p]
        else:
            out[col] = np.concatenate([np.asarray(p) for p in parts])
    return out


def write_star_schema(out_dir: str, seed: int, sf: float, copies: int = 1) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; -> row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in _base_tables(rng, sf).items():
        table = _to_arrow(_replicate(rng, name, cols, copies))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# ETL ingest stream
# ---------------------------------------------------------------------------

SUITES = ("mochitest", "xpcshell", "reftest", "wpt")
_STEPS = ("checkout", "build", "package", "test", "upload")
_FRAMEWORKS = ("talos", "raptor", "awsy")
_CI_EPOCH_S = 1_706_745_600  # 2024-02-01T00:00:00Z
MALFORMED_SHARE = 0.02  # share of artifact lines followed by an injected bad line


@dataclass
class Artifact:
    """One CI artifact file: ``lines`` is the exact file content (one JSON
    object per line, malformed lines included), ``records`` the parsed
    well-formed lines and ``malformed`` the injected bad lines."""

    key: str
    kind: str  # "mozlog" | "text" | "perf"
    lines: list[str] = field(default_factory=list)
    records: list[dict] = field(default_factory=list)
    malformed: list[str] = field(default_factory=list)


def _mozlog_records(rng: np.random.Generator, key: str, t0: float) -> list[dict]:
    recs: list[dict] = []
    for j in range(int(rng.integers(2, 5))):
        suite_key = f"{SUITES[int(rng.integers(0, len(SUITES)))]}.{key}.{j}"
        t = t0 + j * 3600.0
        for k in range(int(rng.integers(20, 41))):
            test = f"dom/test_{k:03d}.html"
            recs.append(dict(suite_key=suite_key, action="test_start", time=t, test=test,
                             subtest=None, status=None, expected=None))
            for s in range(int(rng.integers(0, 6))):
                t += 0.5
                status = "FAIL" if rng.random() < 0.1 else "PASS"
                recs.append(dict(suite_key=suite_key, action="test_status", time=t, test=test,
                                 subtest=f"assert_{s}", status=status,
                                 expected=None if rng.random() < 0.3 else "PASS"))
            t += round(float(rng.uniform(1.0, 9.0)), 3)
            end = "OK" if rng.random() < 0.92 else ("ERROR", "TIMEOUT")[int(rng.integers(0, 2))]
            recs.append(dict(suite_key=suite_key, action="test_end", time=t, test=test,
                             subtest=None, status=end, expected=None if rng.random() < 0.5 else "OK"))
            t += 1.0
    return recs


def _at(epoch_s: float) -> str:
    """Text-log wall time, e.g. ``2024-02-01 00:00:12.000`` (UTC)."""
    return str(np.datetime64(int(epoch_s * 1000), "ms")).replace("T", " ")


def _text_records(rng: np.random.Generator, key: str, t0: float) -> list[dict]:
    recs: list[dict] = []
    t = t0
    for j in range(int(rng.integers(3, 6))):
        name = f"step_{j} {_STEPS[j % len(_STEPS)]}"
        recs.append(dict(log_key=key, value=f"========= Started {name} (results: 0, elapsed: 0 secs) (at {_at(t)}) ========="))
        for i in range(int(rng.integers(20, 60))):
            recs.append(dict(log_key=key, value=f"{key} harness output line {j}.{i}"))
        elapsed = int(rng.integers(5, 600))
        t += elapsed
        code = 0 if rng.random() < 0.85 else int(rng.integers(1, 4))
        recs.append(dict(log_key=key, value=f"========= Finished {name} (results: {code}, elapsed: {elapsed} secs) (at {_at(t)}) ========="))
    return recs


def _perf_records(rng: np.random.Generator, key: str) -> list[dict]:
    recs = [dict(log_key=key, value="INFO - starting")]
    for j in range(int(rng.integers(2, 5))):
        suites = []
        for s in range(int(rng.integers(1, 3))):
            subtests = []
            for k in range(int(rng.integers(3, 8))):
                reps = [round(float(x), 2) for x in rng.normal(100.0 * (k + 1), 5.0, int(rng.integers(3, 10)))]
                subtests.append({"name": f"sub_{k}", "value": round(sum(reps) / len(reps), 2), "replicates": reps})
            suites.append({"name": f"suite_{j}_{s}", "value": round(float(rng.uniform(50, 500)), 2), "subtests": subtests})
        blob = {"framework": {"name": _FRAMEWORKS[int(rng.integers(0, 3))]}, "suites": suites}
        recs.append(dict(log_key=key, value="PERFHERDER_DATA: " + json.dumps(blob)))
        for i in range(int(rng.integers(5, 20))):
            recs.append(dict(log_key=key, value=f"INFO - perf run {j} line {i}"))
    return recs


def _malformed(rng: np.random.Generator, line: str) -> str:
    """An unparseable JSON line: a truncated record or log noise."""
    if rng.random() < 0.5:
        return line[: max(2, int(rng.integers(2, max(3, len(line) - 1))))].rstrip("}")
    return f"### corrupt upload chunk {int(rng.integers(0, 1 << 30)):x} ###"


def ci_artifacts(seed: int, batch: int, kinds: list[str]) -> list[Artifact]:
    """One batch of artifacts, ``kinds[i]`` the kind of artifact ``i``;
    batches are independent, so a run generates only the ones it uses."""
    rng = np.random.default_rng([seed, 2, batch])
    out = []
    for i, kind in enumerate(kinds):
        key = f"b{batch:03d}a{i:02d}"
        t0 = float(_CI_EPOCH_S + int(rng.integers(0, 5)) * 86_400 + int(rng.integers(0, 40_000)))
        if kind == "mozlog":
            recs = _mozlog_records(rng, key, t0)
        elif kind == "text":
            recs = _text_records(rng, key, t0)
        else:
            recs = _perf_records(rng, key)
        art = Artifact(key=key, kind=kind, records=recs)
        for rec in recs:
            line = json.dumps(rec)
            art.lines.append(line)
            if rng.random() < MALFORMED_SHARE:
                bad = _malformed(rng, line)
                art.lines.append(bad)
                art.malformed.append(bad)
        out.append(art)
    return out


def write_artifacts(out_dir: str, artifacts: list[Artifact]) -> dict[str, str]:
    """Write each artifact to ``<out_dir>/<key>.jsonl``; -> key -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for art in artifacts:
        path = os.path.join(out_dir, f"{art.key}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(art.lines) + "\n")
        paths[art.key] = path
    return paths
