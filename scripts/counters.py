"""Counters-and-plan baseline: one row per registry query and bench-only
line, holding the counters host load cannot move.

Usage:
    python scripts/counters.py                 # measure, diff against the baseline
    python scripts/counters.py --write         # re-pin BENCH_COUNTERS.json
    python scripts/counters.py name [name ...] # only these rows

Each row holds ``jobs``, ``tasks``, ``shuffle_bytes`` (read + write, summed
over the line's stages) and ``plan_sha``, a hash of the normalized
``explain("formatted")`` taken before execution.  Conditions are pinned
here, not taken from the environment: sf0.01, ``local[4]``, 4 shuffle
partitions, each line materialized once through the ``noop`` sink as
``bench.py`` does (a bench-only line's setup runs first and is not counted).
Lines run one after another in one session, so a line owns every job whose
id is above the last job id seen before it started, whatever its job group.

Without ``--write`` the script prints every row whose fields moved, with the
old and new values, and exits 1 on any move.  ``jobs``, ``tasks`` and
``plan_sha`` must repeat exactly; ``shuffle_bytes`` within
``SHUFFLE_TOLERANCE``.  With one name the script also prints that line's
normalized plan and a per-job table.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from scripts.check_promotions import SCALES  # noqa: E402
from spreadsheet_etl_engine_spark import registry  # noqa: E402

BASELINE = os.path.join(REPO, "BENCH_COUNTERS.json")
SF_DIR = SCALES[1]
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
FIELDS = ("jobs", "tasks", "shuffle_bytes", "plan_sha")
# Relative.  Across eight fresh processes, shuffle bytes spread by up to
# 0.19% on the streaming queries, scan_zorder_pruned, dedup_components and
# dedup_semantic (e.g. streaming_seen_index 333,310-333,934 B); the other
# lines repeat exactly.
SHUFFLE_TOLERANCE = 0.005

_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
_EXCHANGE_ID = re.compile(r"\[id=#\d+\]")
# A checkpointed frame's scan names its RDD, whose id counts every RDD the
# session made before it.
_RDD_ID = re.compile(r"RDD\[\d+\]")


def _tmp_paths(plan: str) -> str:
    for root in {"/tmp", tempfile.gettempdir()}:
        plan = re.sub(re.escape(root) + r"/[^\s,\]\)]*", "<tmp>", plan)
    return plan


def normalize_plan(plan: str, sf_dir: str = SF_DIR) -> str:
    """The plan with every per-process token replaced by a fixed one."""
    plan = plan.replace(sf_dir.rstrip("/"), "<sf>")
    plan = _EXCHANGE_ID.sub("[id=#]", plan)
    plan = _EXPR_ID.sub("#", plan)
    plan = _PLAN_ID.sub("plan_id=", plan)
    plan = _RDD_ID.sub("RDD[]", plan)
    return _tmp_paths(plan)


def plan_sha(plan: str, sf_dir: str = SF_DIR) -> str:
    return hashlib.sha256(normalize_plan(plan, sf_dir).encode()).hexdigest()[:16]


def _load_tracing():
    path = os.path.join(REPO, "perfbench", "tracing.py")
    spec = importlib.util.spec_from_file_location("_perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    return tracing


def measure(names: list[str], detail: bool) -> dict[str, dict]:
    from spreadsheet_etl_engine_spark.session import get_spark

    tracing = _load_tracing()
    spark = get_spark("counters", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def jobs_since(last: int) -> list[dict]:
        tracing.wait_for_listeners(sc)
        return [j for j in tracing.fetch_jobs(sc) if j["job"] > last]

    last = max((j["job"] for j in jobs_since(-1)), default=-1)
    rows = {}
    for name in names:
        if name in bench.LOCAL_VARIANTS:
            fn = bench.LOCAL_VARIANTS[name](spark, SF_DIR)
            last = max((j["job"] for j in jobs_since(last)), default=last)
        else:
            fn = registry.get(name).fn
        df = fn(spark, SF_DIR)
        plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        df.write.mode("overwrite").format("noop").save()
        jobs = jobs_since(last)
        last = max((j["job"] for j in jobs), default=last)
        rows[name] = {"jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs),
                      "shuffle_bytes": sum(j["shuffle"] for j in jobs),
                      "plan_sha": plan_sha(plan)}
        print(f"{name}: {rows[name]}", file=sys.stderr, flush=True)
        if detail:
            _print_detail(tracing, sc, plan, jobs)
    return rows


def _print_detail(tracing, sc, plan: str, jobs: list[dict]) -> None:
    print(normalize_plan(plan))
    desc = {j["jobId"]: j.get("description") or j.get("name") or ""
            for j in tracing._rest(sc, "jobs")}
    print(f"{'job':>5} {'ms':>7} {'tasks':>5}  description")
    for j in jobs:
        ms = ((j["t1"] or j["t0"]) - j["t0"]) * 1000
        print(f"{j['job']:>5} {ms:>7.0f} {j['tasks']:>5}  {desc.get(j['job'], '')[:90]}")


def moved(old: dict, new: dict) -> list[str]:
    """Fields of ``new`` that differ from ``old`` beyond their tolerance."""
    out = []
    for field in FIELDS:
        a, b = old.get(field), new.get(field)
        if field == "shuffle_bytes" and a is not None:
            if abs(b - a) <= SHUFFLE_TOLERANCE * max(a, 1):
                continue
        elif a == b:
            continue
        out.append(field)
    return out


def write_baseline(rows: dict[str, dict]) -> None:
    """One row per line of the file, so a re-pin diffs row by row."""
    conditions = {"sf_dir": os.path.basename(SF_DIR), "master": MASTER,
                  "shuffle_partitions": SHUFFLE_PARTITIONS, "sink": "noop",
                  "shuffle_bytes_rel_tolerance": SHUFFLE_TOLERANCE}

    block = ",\n".join(f"  {json.dumps(n)}: {json.dumps(rows[n])}" for n in sorted(rows))
    with open(BASELINE, "w") as f:
        f.write(f'{{\n "conditions": {json.dumps(conditions)},\n'
                f' "rows": {{\n{block}\n }}\n}}\n')


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="re-pin the baseline")
    ap.add_argument("names", nargs="*", help="restrict the run to these rows")
    args = ap.parse_args()
    known = sorted(registry.REGISTRY) + sorted(bench.LOCAL_VARIANTS)
    unknown = [n for n in args.names if n not in known]
    if unknown:
        print(f"unknown lines: {unknown}")
        return 2
    names = args.names or known

    baseline = {}
    if os.path.exists(BASELINE):
        with open(BASELINE) as f:
            baseline = json.load(f)["rows"]
    rows = measure(names, detail=len(args.names) == 1)

    if args.write:
        if args.names:
            rows = {**baseline, **rows}
        write_baseline(rows)
        print(f"wrote {len(rows)} rows to {os.path.basename(BASELINE)}")
        return 0

    bad = 0
    for name in names:
        old, new = baseline.get(name), rows[name]
        if old is None:
            print(f"{name}: not in the baseline: {new}")
            bad += 1
            continue
        for field in moved(old, new):
            print(f"{name}.{field}: {old.get(field)} -> {new[field]}")
            bad += 1
    if not args.names:
        for name in sorted(set(baseline) - set(rows)):
            print(f"{name}: in the baseline but no longer a line")
            bad += 1
    print(f"{len(names)} lines, {bad} moved")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
