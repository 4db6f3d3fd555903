"""get_spark's worker-daemon gate: the custom daemon module only resolves
on a local master, so it must not be wired for a cluster master however
the caller passes it."""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import SparkSession

from spreadsheet_etl_engine_spark.session import get_spark

DAEMON = "spark.python.daemon.module"


def _built_options(monkeypatch, **kwargs) -> dict:
    """The options get_spark hands the builder, without starting a JVM."""
    seen = {}

    def fake_get_or_create(builder):
        seen.update(builder._options)
        return mock.MagicMock()

    for var in ("MASTER", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    get_spark("session-gate", **kwargs)
    return seen


@pytest.mark.parametrize("kwargs", [
    {"master": "spark://head:7077"},
    {"extra_conf": {"spark.master": "spark://head:7077"}},
])
def test_cluster_master_gets_the_stock_daemon(monkeypatch, kwargs):
    opts = _built_options(monkeypatch, **kwargs)
    assert opts["spark.master"] == "spark://head:7077"
    assert DAEMON not in opts


def test_local_master_gets_the_custom_daemon(monkeypatch):
    opts = _built_options(monkeypatch)
    assert opts["spark.master"].startswith("local[")
    assert opts[DAEMON] == "spark_graft_pydaemon"
