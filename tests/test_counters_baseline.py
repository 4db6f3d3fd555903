"""The committed counters baseline (``BENCH_COUNTERS.json``, written by
``scripts/counters.py --write``) covers every line, and its plan hash sees
operator changes but not per-process tokens.  No Spark session."""

from __future__ import annotations

import json

import bench
from scripts import counters
from spreadsheet_etl_engine_spark import registry

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- {join} (3)
         :- Scan parquet  (1)
         +- Scan ExistingRDD (2)

(1) Scan parquet
Output [2]: [l_orderkey#{a}L, l_quantity#{b}]
Location: InMemoryFileIndex [file:{sf}/lineitem.parquet]
(2) Scan ExistingRDD
Arguments: [o_orderkey#{c}L], MapPartitionsRDD[{rdd}] at localCheckpoint
(4) Exchange
Arguments: hashpartitioning(l_orderkey#{a}L, 4), ENSURE_REQUIREMENTS, [plan_id={pid}]
(5) ReusedExchange [Reuses operator id: 4] [id=#{xid}]
Location: InMemoryFileIndex [file:{tmp}/part-0.parquet]
"""


def _plan(join="BroadcastHashJoin", a=12, b=13, c=7, rdd=70, pid=41, xid=9,
          sf="/data/sf0.01", tmp="/tmp/tmpk2j3v9"):
    return _PLAN.format(join=join, a=a, b=b, c=c, rdd=rdd, pid=pid, xid=xid, sf=sf,
                        tmp=tmp)


def test_baseline_rows_are_every_line():
    with open(counters.BASELINE) as f:
        rows = json.load(f)["rows"]
    assert set(rows) == set(registry.REGISTRY) | set(bench.LOCAL_VARIANTS), \
        "re-pin with python scripts/counters.py --write <new line>"
    assert all(set(row) == set(counters.FIELDS) for row in rows.values())


def test_plan_sha_ignores_per_process_tokens():
    one = counters.plan_sha(_plan(), sf_dir="/data/sf0.01")
    other = counters.plan_sha(
        _plan(a=901, b=902, c=88, rdd=3, pid=7, xid=650, sf="/elsewhere/sf0.01",
              tmp="/tmp/tmpzz81q0"),
        sf_dir="/elsewhere/sf0.01")
    assert one == other


def test_plan_sha_sees_an_operator_change():
    assert counters.plan_sha(_plan()) != counters.plan_sha(_plan(join="SortMergeJoin"))


def test_shuffle_bytes_tolerance_is_relative_and_other_fields_exact():
    old = {"jobs": 13, "tasks": 38, "shuffle_bytes": 192_000, "plan_sha": "x"}
    assert counters.moved(old, dict(old, shuffle_bytes=191_996)) == []
    assert counters.moved(old, dict(old, shuffle_bytes=190_000)) == ["shuffle_bytes"]
    assert counters.moved(old, dict(old, tasks=39, plan_sha="y")) == ["tasks", "plan_sha"]
