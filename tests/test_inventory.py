"""The query inventory in COVERAGE.md is derived from code; these checks
are Spark-free."""

from __future__ import annotations

from scripts import inventory
from spreadsheet_etl_engine_spark import registry


def test_coverage_inventory_is_current():
    """A registered, renamed or re-tested query without a regenerate
    fails here; fix with ``python scripts/inventory.py --write``."""
    old, new = inventory.committed(), inventory.block()
    assert old == new, "\n".join(inventory.stale(old, new))
    assert len(new) == len(registry.REGISTRY) + 4


def test_module_cost_counts_only_unchanged_queries_as_new_slots():
    reach = {"a": {"registry", "functions.text"}, "b": {"registry"},
             "c": {"registry", "functions.text", "operators.dedup"}}
    assert inventory.module_cost(reach, changed={"c"}) == {
        "registry": (2, 3), "functions.text": (1, 2), "operators.dedup": (0, 1)}
