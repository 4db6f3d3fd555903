"""Local replica of the driver's correctness gate: every registered query
with an oracle must match DuckDB on the same parquet (row count + column
names + exact values, order-insensitive).  Run at sf0.001 by default
(SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the driver scale).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

from spreadsheet_etl_engine_spark import checkwindow, registry
from spreadsheet_etl_engine_spark.sources.readers import TABLE_NAMES


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            ser = df[col]
            if getattr(ser.dtype, "tz", None) is not None:
                ser = ser.dt.tz_localize(None)
            df[col] = ser.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[col]):
            df[col] = df[col].astype("float64")
        elif pd.api.types.is_integer_dtype(df[col]):
            df[col] = df[col].astype("Int64")
        elif df[col].dtype == object:
            df[col] = df[col].astype(str).where(~df[col].isna(), None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def assert_query_parity(spark, duck, sf_dir, name):
    rq = registry.get(name)
    got = _normalize(rq.fn(spark, sf_dir).toPandas())
    exp = _normalize(duck.execute(rq.oracle).df())
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: {len(got)} rows != oracle {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)


ORACLE_QUERIES = sorted(n for n, rq in registry.REGISTRY.items() if rq.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_parity(spark, duck, sf_dir, name):
    assert_query_parity(spark, duck, sf_dir, name)


NO_ORACLE = sorted(n for n, rq in registry.REGISTRY.items() if rq.oracle is None)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only(spark, sf_dir, name):
    df = registry.get(name).fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 10


def test_check_order_puts_changed_queries_first():
    """Changed and never-verified queries lead by name; the rest follow
    oldest green round first, ties by name."""
    verified = {
        "a_same": {"round": 7, "fingerprint": "1"},
        "b_edited": {"round": 3, "fingerprint": "old"},
        "c_same": {"round": 2, "fingerprint": "3"},
        "d_same": {"round": 7, "fingerprint": "4"},
        "e_same": {"round": 2, "fingerprint": "5"},
    }
    current = {"e_same": "5", "d_same": "4", "z_new": "9", "c_same": "3",
               "b_edited": "new", "a_same": "1"}
    assert checkwindow.check_order(current, verified, 2) == [
        "b_edited", "z_new", "c_same", "e_same", "a_same", "d_same"]


def test_check_order_fails_past_the_budget():
    current = {f"q{i}": "new" for i in range(4)}
    verified = {"q0": {"round": 1, "fingerprint": "old"}}
    with pytest.raises(ValueError, match=r"4 queries changed.*'q0', 'q1', 'q2', 'q3'"):
        checkwindow.check_order(current, verified, 3)


def test_driver_priority_ordering():
    """Every query changed since its last green check row sits inside the
    correctness check's budget; the order covers exactly the registry; every
    verified.json name is registered (a stale name is a deleted or renamed
    query the file still vouches for)."""
    with open(registry._VERIFIED) as f:
        verified = json.load(f)
    unregistered = sorted(set(verified) - set(registry.REGISTRY))
    assert not unregistered, f"verified.json names not registered: {unregistered}"
    changed = [n for n, rq in registry.REGISTRY.items()
               if verified.get(n, {}).get("fingerprint")
               != checkwindow.fingerprint(rq.fn, rq.oracle)]
    assert len(changed) <= registry.DRIVER_CHECK_BUDGET, changed
    names = list(registry.queries())
    assert sorted(names) == sorted(registry.REGISTRY)
    head = names[: registry.DRIVER_CHECK_BUDGET]
    assert not [n for n in changed if n not in head]


def test_registry_import_does_not_fingerprint():
    """Fingerprinting parses the package source; it waits for the first
    queries() / oracle_sql() call instead of slowing every import."""
    code = ("from spreadsheet_etl_engine_spark import checkwindow, registry; "
            "print(checkwindow._module.cache_info().currsize)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=os.path.dirname(registry._VERIFIED))
    assert out.stdout.strip() == "0"


def _modules_reached(name):
    return {mod for mod, _ in checkwindow.closure(registry.get(name).fn)}


def test_fingerprint_closure_follows_every_reference_kind():
    pkg = "spreadsheet_etl_engine_spark"
    workbook = checkwindow.closure(registry.get("dsl_workbook_job").fn)
    assert (f"{pkg}.jobs", "run_workbook") in workbook
    assert (f"{pkg}.sources.xlsx_native", "read_workbook") in workbook
    # module-alias attribute (DD.connected_components)
    assert (f"{pkg}.operators.dedup", "connected_components") in \
        checkwindow.closure(registry.get("dedup_components").fn)
    # function-local ``from ... import multimodal as MM``
    assert f"{pkg}.operators.multimodal" in _modules_reached("multimodal_decode")
    assert f"{pkg}.plans.compiler" not in _modules_reached("set_except")
