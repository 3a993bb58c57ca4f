"""The staged r14 registration pack is retired. Pins what its freeze
guarded: importing every module of the queries package, listed in
suite._load_all or not, registers nothing past the 526 cases."""

from __future__ import annotations

import importlib
import pathlib


def test_pack_is_not_registered():
    from testlog_etl_spark import queries, suite

    suite.queries()  # force full load
    before = set(suite.REGISTRY)
    for p in sorted(pathlib.Path(queries.__file__).parent.glob("[!_]*.py")):
        importlib.import_module(f"testlog_etl_spark.queries.{p.stem}")
    assert sorted(set(suite.REGISTRY) - before) == []
    assert len(suite.REGISTRY) == 526
