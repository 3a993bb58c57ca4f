"""The staged r13 registration pack is retired. Pins what its freeze
guarded: the registry holds 526 cases, each defined in a query module
that suite._load_all imports, so no staged module feeds the registry."""

from __future__ import annotations

from tests.test_smoke import loaded_query_modules


def test_pack_is_not_registered():
    from testlog_etl_spark import suite

    suite.queries()  # force full load
    allowed = {f"testlog_etl_spark.queries.{m}" for m in loaded_query_modules()}
    stray = sorted({c.fn.__module__ for c in suite.REGISTRY.values()} - allowed)
    assert not stray, f"cases registered from modules outside _load_all: {stray}"
    assert len(suite.REGISTRY) == 526
