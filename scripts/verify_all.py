"""One-command verification lattice: runs every
evidence gate the repo maintains and prints a green/red table, so a
round-end check (or a judge re-run) is a single command instead of four
env-flag incantations.

Stages (each an independent subprocess; later stages still run after a
failure so the table is complete):

  suite       full pytest tests/ — unit + property + streaming + the
              always-on curated edge gate + local DuckDB parity over all
              oracled queries at sf0.001
  edge        scripts/edge_sweep.py — every oracled query vs DuckDB on
              the edge-augmented, empty-slice, single-row and
              all-NULL-column table variants
  scale       SPARK_GRAFT_SCALE_PROBE=1 pytest tests/test_scale_probe.py
              — measured ~10x scaling-ratio bounds + IVF recall floors
  promotions  scripts/check_promotions.py --promoted — the correctness
              check window (first 50 of queries(): every query changed
              since its last green check row, then the oldest green rows)
              at BOTH sf0.001 and sf0.01 (the check runs at sf0.01)
  determinism scripts/determinism_sweep.py — every oracled query
              hash-identical under 3 shuffle-partition/AQE configs
              (partition-order-stability, mechanically)
  counters    scripts/counters.py — every registry query and bench-only
              line at sf0.01 on local[4]: jobs, tasks, shuffle bytes and
              plan hash against BENCH_COUNTERS.json (~3 min)
  bench       python bench.py — the sf0.1 headline recording (one JSON
              line; pass/fail is exit code + parseable output only;
              self-qualifying idle gate)

Usage:
    python scripts/verify_all.py              # everything (~25-35 min)
    python scripts/verify_all.py suite edge   # named stages only

Exit code 0 = every selected stage green.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable

STAGES: dict[str, tuple[list[str], dict[str, str]]] = {
    "suite": ([PY, "-m", "pytest", "tests/", "-q", "--no-header",
               "-p", "no:cacheprovider"], {}),
    "edge": ([PY, "scripts/edge_sweep.py"], {}),
    "scale": ([PY, "-m", "pytest", "tests/test_scale_probe.py", "-q",
               "--no-header", "-p", "no:cacheprovider"],
              {"SPARK_GRAFT_SCALE_PROBE": "1"}),
    "promotions": ([PY, "scripts/check_promotions.py", "--promoted"], {}),
    # r11: every oracled query hash-identical under 3 shuffle/AQE
    # configs — catches partition-order-dependent output (first-seen
    # zero signs, float-order sums, untied ranks) that the fixed-config
    # parity gates are blind to.
    "determinism": ([PY, "scripts/determinism_sweep.py"], {}),
    "counters": ([PY, "scripts/counters.py"], {}),
    "bench": ([PY, "bench.py"], {}),
}

# Ambient SPARK_GRAFT_* overrides (a leftover debugging export) would
# silently re-scope every stage — e.g. a stale SPARK_GRAFT_SF_DIR makes
# bench record a 1/100-scale total under the sf0.1 header (r9 lattice
# review).  The table's claim is "the documented scales", so strip the
# semantic overrides; the stage-pinned vars above are re-applied on top.
_SEMANTIC_ENV = (
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_TEST_SF_DIR",
    "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_EDGE_SWEEP",
    "SPARK_GRAFT_SCALE_PROBE", "SPARK_GRAFT_CPUS",
    # r11: the bench idle-qualification knobs are evidence-semantic too —
    # a stale SPARK_GRAFT_IDLE_WAIT_S=0 or PROBE_FLOOR override would
    # make idle_qualified meaningless while the table reads green.
    "SPARK_GRAFT_IDLE_WAIT_S", "SPARK_GRAFT_PROBE_FLOOR",
    "SPARK_GRAFT_PROBE_MARGIN",
)


LOG_DIR = os.path.join("/tmp", "spark_graft_verify")


def run_stage(name: str) -> tuple[bool, float, str]:
    cmd, extra_env = STAGES[name]
    env = {k: v for k, v in os.environ.items() if k not in _SEMANTIC_ENV}
    env.update(extra_env)
    t0 = time.monotonic()
    proc = subprocess.run(cmd, env=env, cwd=REPO, capture_output=True,
                          text=True)
    dt = time.monotonic() - t0
    # Full output always lands on disk — a RED row must be inspectable
    # without re-running a multi-minute stage.
    os.makedirs(LOG_DIR, exist_ok=True)
    log = os.path.join(LOG_DIR, f"{name}.log")
    with open(log, "w") as f:
        f.write(proc.stdout + "\n--- stderr ---\n" + proc.stderr)
    ok = proc.returncode == 0
    tail = ""
    if name == "bench" and ok:
        # The recording is the evidence: surface the JSON line.
        for line in reversed(proc.stdout.splitlines()):
            if line.startswith("{"):
                try:
                    rec = json.loads(line)
                    # The evidence must match the header's claim: the
                    # documented sf0.1 recording, not whatever scale an
                    # ambient override selected.
                    if rec.get("sf") != 0.1:
                        ok, tail = False, f"bench ran at sf={rec.get('sf')}, not 0.1"
                    else:
                        tail = (f"total {rec['value']}s "
                                f"(reps={rec.get('reps')}, "
                                f"load={rec.get('load_avg_1m')}, "
                                f"idle_qualified="
                                f"{rec.get('idle_qualified')})")
                except (json.JSONDecodeError, KeyError):
                    # exit 0 without a parseable recording is NOT green —
                    # the recording IS the stage's evidence.
                    ok, tail = False, "unparseable bench line"
                break
        else:
            ok, tail = False, "no JSON line in bench output"
    if not ok and not tail:
        summary = [ln for ln in proc.stdout.splitlines()
                   if ln.startswith(("FAILED", "ERROR"))]
        if not summary:
            summary = (proc.stdout + proc.stderr).strip().splitlines()[-1:]
        tail = "; ".join(summary[:3])[:160]
    if not ok:
        tail += f"  [full log: {log}]"
    return ok, dt, tail


def main() -> int:
    names = sys.argv[1:] or list(STAGES)
    unknown = [n for n in names if n not in STAGES]
    if unknown:
        print(f"unknown stages {unknown}; choose from {list(STAGES)}")
        return 2
    results = []
    for name in names:
        print(f"[verify_all] running {name} ...", flush=True)
        results.append((name, *run_stage(name)))
    print()
    print(f"{'stage':<12} {'result':<6} {'secs':>7}  note")
    failed = False
    for name, ok, dt, tail in results:
        print(f"{name:<12} {'GREEN' if ok else 'RED':<6} {dt:>7.1f}  {tail}")
        failed |= not ok
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
