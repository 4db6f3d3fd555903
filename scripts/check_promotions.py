"""Two-SF check-window gate: run the local DuckDB parity test for a set of
queries at BOTH sf0.001 (the default test scale) and sf0.01 (the scale the
correctness check runs at), so a query entering the check window never
discovers an sf-dependent mismatch for the first time in the sf0.01 check.

Usage:
    python scripts/check_promotions.py name1 name2 ...
    python scripts/check_promotions.py --promoted   # the first
        # DRIVER_CHECK_BUDGET entries of queries(): every query changed
        # since its last green check row, then the oldest green rows

Exit code 0 = all names pass at both scales.  Queries without an oracle
run the rows-only check pytest applies to them.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spreadsheet_etl_engine_spark import registry  # noqa: E402

SCALES = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    # --promoted gates what the correctness check will actually verify.
    if args == ["--promoted"]:
        names = list(registry.queries())[: registry.DRIVER_CHECK_BUDGET]
    else:
        names = args
    unknown = [n for n in names if n not in registry.REGISTRY]
    if unknown:
        print(f"not registered: {unknown}")
        return 2
    # One pytest -k expression selecting exactly these parametrized names.
    kexpr = " or ".join(f"[{n}]" for n in names)
    for sf in SCALES:
        print(f"=== parity @ {sf} ({len(names)} queries) ===", flush=True)
        env = dict(os.environ, SPARK_GRAFT_TEST_SF_DIR=sf)
        rc = subprocess.call(
            [sys.executable, "-m", "pytest", "tests/test_oracle_parity.py",
             "-q", "-k", kexpr, "--no-header", "-p", "no:cacheprovider"],
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        if rc != 0:
            print(f"FAILED at {sf} — fix before the next correctness check")
            return rc
    print("check-window gate green at both scales")
    return 0


if __name__ == "__main__":
    sys.exit(main())
