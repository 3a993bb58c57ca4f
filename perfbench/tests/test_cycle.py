"""The seeded op order of one etl-ingest cycle."""

import random

from perfbench import etl


def test_cycle_order_keeps_every_slot_and_its_constraints():
    for seed in range(200):
        slots = etl.cycle_order(random.Random(seed))
        assert sorted(slots) == sorted(etl.CYCLE)
        # a re-delivery needs an earlier mozlog ingest
        assert "mozlog" in slots[: slots.index("redeliver")]
        assert slots[-1] == "readback"  # the read-back sees the whole cycle


def test_cycle_order_is_seeded():
    assert etl.cycle_order(random.Random(1)) == etl.cycle_order(random.Random(1))
    assert len({tuple(etl.cycle_order(random.Random(s))) for s in range(20)}) > 1
