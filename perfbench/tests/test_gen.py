"""The input generators are pure functions of the seed."""

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _read_all(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_star_schema_same_seed_is_byte_identical(tmp_path):
    gen.write_star_schema(str(tmp_path / "a"), 7, 0.001, copies=2)
    gen.write_star_schema(str(tmp_path / "b"), 7, 0.001, copies=2)
    gen.write_star_schema(str(tmp_path / "c"), 8, 0.001, copies=2)
    a, b, c = (_read_all(tmp_path / x) for x in "abc")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_copies_are_rekeyed_and_jittered(tmp_path):
    rows = gen.write_star_schema(str(tmp_path), 3, 0.001, copies=3)
    assert rows["lineitem"] == 3 * 6000 and rows["nation"] == 25
    orders = pq.read_table(tmp_path / "orders.parquet").to_pydict()
    n = len(orders["o_orderkey"]) // 3
    # keys of copy i are the base keys offset by i * KEY_OFFSET
    assert orders["o_orderkey"][n:2 * n] == [k + gen.KEY_OFFSET for k in orders["o_orderkey"][:n]]
    assert orders["o_custkey"][2 * n:] == [k + 2 * gen.KEY_OFFSET for k in orders["o_custkey"][:n]]
    # non-key columns repeat, money measures move by at most 1%
    assert orders["o_orderstatus"][n:2 * n] == orders["o_orderstatus"][:n]
    base, copy = orders["o_totalprice"][:n], orders["o_totalprice"][n:2 * n]
    assert base != copy
    assert all(abs(c - p) <= 0.011 * p for p, c in zip(base, copy))


def _artifacts(seed):
    kinds = ["mozlog", "mozlog", "text", "perf"]
    return [gen.ci_artifacts(seed, batch, kinds) for batch in (0, 1)]


def test_artifacts_same_seed_is_byte_identical(tmp_path):
    for seed, d in ((5, "a"), (5, "b"), (6, "c")):
        for arts in _artifacts(seed):
            gen.write_artifacts(str(tmp_path / d), arts)
    a, b, c = (_read_all(tmp_path / x) for x in "abc")
    assert len(a) == 8
    assert a == b
    assert a != c


def test_artifacts_malformed_lines_are_unparseable_and_counted():
    arts = [a for batch in _artifacts(9) for a in batch]
    assert sum(len(a.malformed) for a in arts) > 0
    for art in arts:
        parsed = []
        for line in art.lines:
            try:
                parsed.append(json.loads(line))
            except json.JSONDecodeError:
                assert line in art.malformed
        assert parsed == art.records
        assert len(art.lines) == len(art.records) + len(art.malformed)


@pytest.mark.parametrize("kind", ["mozlog", "text", "perf"])
def test_artifact_kinds(kind):
    (art,) = gen.ci_artifacts(1, 0, [kind])
    assert art.kind == kind and art.records
    if kind == "mozlog":
        assert {r["action"] for r in art.records} == {"test_start", "test_status", "test_end"}
    elif kind == "perf":
        assert any(r["value"].startswith("PERFHERDER_DATA: ") for r in art.records)
