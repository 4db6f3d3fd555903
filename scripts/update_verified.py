"""Record each query's fingerprint at its last green correctness-check row.

``verified.json`` (repo root) maps every verified query to
``{"round": N, "fingerprint": ...}``; ``registry.queries()`` puts every
query whose fingerprint now differs inside the check window
(see ``spreadsheet_etl_engine_spark/checkwindow.py``).  Run this at the
commit the check verified, with that round's correctness report; entries
without a newer green row are kept.  The query inventory in COVERAGE.md,
whose "green" column comes from this file, is regenerated with it:

    python scripts/update_verified.py CORRECTNESS_r17.json
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from scripts import inventory  # noqa: E402
from spreadsheet_etl_engine_spark import checkwindow, registry  # noqa: E402

PATH = os.path.join(ROOT, "verified.json")


def green(row: dict) -> bool:
    return row.get("hash_match") is True or (
        row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0)


def main(reports: list[str]) -> None:
    verified = {}
    if os.path.exists(PATH):
        with open(PATH) as f:
            verified = json.load(f)
    for path in reports:
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (name in registry.REGISTRY and green(row)
                    and rnd >= verified.get(name, {}).get("round", 0)):
                rq = registry.get(name)
                verified[name] = {"round": rnd, "fingerprint":
                                  checkwindow.fingerprint(rq.fn, rq.oracle)}
    entries = sorted((n, v) for n, v in verified.items() if n in registry.REGISTRY)
    with open(PATH, "w") as f:
        f.write("{\n" + ",\n".join(f" {json.dumps(n)}: {json.dumps(v)}"
                                   for n, v in entries) + "\n}\n")
    print(f"{len(entries)} of {len(registry.REGISTRY)} queries verified -> {PATH}")
    inventory.write()


if __name__ == "__main__":
    main(sys.argv[1:])
