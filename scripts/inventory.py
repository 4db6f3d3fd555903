"""Per-query inventory, derived from code.

Usage:
    python scripts/inventory.py              # exit 1 if COVERAGE.md's block is stale
    python scripts/inventory.py --write      # rewrite that block
    python scripts/inventory.py --reach      # changed queries, slots left, module cost
    python scripts/inventory.py --reach REV  # ... and the queries moved against REV

COVERAGE.md's block between the ``inventory:begin``/``end`` markers has one
row per ``registry.REGISTRY`` query: oracle or rows-only, its ``bench.py``
line, the package modules it reaches (``checkwindow.closure``, minus those
nearly every query reaches), its last green round (``verified.json``) and
the test files naming it as a string literal.  Whether a query changed since
that round, and what a module edit costs in check-window slots, move with
every edit, so only ``--reach`` prints them.  Nothing here starts Spark.
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import re
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from spreadsheet_etl_engine_spark import checkwindow, registry  # noqa: E402

COVERAGE = os.path.join(ROOT, "COVERAGE.md")
BEGIN, END = "<!-- inventory:begin -->", "<!-- inventory:end -->"
PKG = registry.__name__.rpartition(".")[0]
COMMON = {"registry", "ext_queries", "sources.readers", "errors"}
_FINGERPRINTS = (
    "import json\nfrom spreadsheet_etl_engine_spark import checkwindow, registry\n"
    "print(json.dumps({n: checkwindow.fingerprint(q.fn, q.oracle)"
    " for n, q in registry.REGISTRY.items()}))")


def _verified() -> dict[str, dict]:
    with open(registry._VERIFIED) as f:
        return json.load(f)


def modules(name: str) -> set[str]:
    """Package modules (prefix dropped) that query ``name`` reaches."""
    return {mod[len(PKG) + 1:] for mod, _ in checkwindow.closure(registry.get(name).fn)}


def _bench_line(name: str) -> str:
    kinds = ["headline"] if name in bench.HEADLINE else \
        ["optional"] if name in bench.OPTIONAL else []
    # A bench-only line is named after the registry query it decomposes.
    kinds += [f"local `{v}`" for v in sorted(bench.LOCAL_VARIANTS)
              if v.startswith(name + "_")]
    return " + ".join(kinds) or "—"


def _test_literals() -> dict[str, set[str]]:
    out = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "tests", "*.py"))):
        with open(path) as f:
            out[os.path.basename(path)[:-3]] = set(
                re.findall(r"""["']([A-Za-z0-9_]+)["']""", f.read()))
    return out


def block() -> list[str]:
    """The inventory block's lines, markers excluded."""
    verified, literals = _verified(), _test_literals()
    names = sorted(registry.REGISTRY)
    oracled = sum(registry.REGISTRY[n].oracle is not None for n in names)
    h, o, v = len(bench.HEADLINE), len(bench.OPTIONAL), len(bench.LOCAL_VARIANTS)
    lines = [f"Totals: {len(names)} queries, {oracled} oracled, {len(names) - oracled} "
             f"rows-only; {h + o + v} bench lines ({h} headline, {o} optional, "
             f"{v} local variants).", "",
             "| query | check | bench line | modules reached | green | tests |",
             "|---|---|---|---|---|---|"]
    for n in names:
        mods = ", ".join(sorted(modules(n) - COMMON)) or "—"
        green = f"r{verified[n]['round']}" if n in verified else "—"
        tests = ", ".join(t for t, lits in literals.items() if n in lits) or "—"
        check = "oracle" if registry.REGISTRY[n].oracle is not None else "rows-only"
        lines.append(f"| `{n}` | {check} | {_bench_line(n)} | {mods} | {green} | {tests} |")
    return lines


def committed() -> list[str]:
    with open(COVERAGE) as f:
        text = f.read()
    return text.split(BEGIN, 1)[1].split(END, 1)[0].strip("\n").split("\n")


def stale(old: list[str], new: list[str]) -> list[str]:
    """The lines that differ, ``-`` committed and ``+`` generated."""
    return [f"- {ln}" for ln in old if ln not in new] + [f"+ {ln}" for ln in new if ln not in old]


def write() -> None:
    with open(COVERAGE) as f:
        head, rest = f.read().split(BEGIN, 1)
    tail = rest.split(END, 1)[1]
    with open(COVERAGE, "w") as f:
        f.write(head + BEGIN + "\n" + "\n".join(block()) + "\n" + END + tail)


def fingerprints(tree: str | None = None) -> dict[str, str]:
    """Every query's fingerprint, in this process or in a package ``tree``."""
    if tree is None:
        return {n: checkwindow.fingerprint(q.fn, q.oracle)
                for n, q in registry.REGISTRY.items()}
    out = subprocess.run([sys.executable, "-c", _FINGERPRINTS], cwd=tree,
                         stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout)


def moved_against(rev: str, current: dict[str, str]) -> list[str]:
    """Queries whose fingerprint differs from (or is absent at) ``rev``."""
    tar = subprocess.run(["git", "archive", rev, PKG], cwd=ROOT,
                         stdout=subprocess.PIPE, check=True).stdout
    with tempfile.TemporaryDirectory() as tmp:
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(tmp)
        old = fingerprints(tmp)
    return sorted(n for n in set(old) | set(current) if old.get(n) != current.get(n))


def module_cost(reach: dict[str, set[str]], changed: set[str]) -> dict[str, tuple[int, int]]:
    """module -> (queries an edit to it would newly mark changed, queries reaching it)."""
    cost: dict[str, tuple[int, int]] = {}
    for name, mods in reach.items():
        for m in mods:
            new, reached = cost.get(m, (0, 0))
            cost[m] = (new + (name not in changed), reached + 1)
    return cost


def reach(rev: str | None) -> None:
    current, verified = fingerprints(), _verified()
    changed = sorted(n for n, fp in current.items()
                     if verified.get(n, {}).get("fingerprint") != fp)
    budget = registry.DRIVER_CHECK_BUDGET
    print(f"{len(changed)} changed since their green row, "
          f"{budget - len(changed)} of {budget} slots left: {' '.join(changed)}")
    cost = module_cost({n: modules(n) for n in registry.REGISTRY}, set(changed))
    print("module cost (new slots / queries reached):")
    for m, (new, reached) in sorted(cost.items(), key=lambda kv: (-kv[1][0], kv[0])):
        print(f"  {m:32} {new:>3} / {reached}")
    if rev:
        moved = moved_against(rev, current)
        print(f"{len(moved)} moved against {rev}: {' '.join(moved)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite COVERAGE.md's block")
    ap.add_argument("--reach", nargs="?", const="", metavar="REV",
                    help="print check-window reach, against REV if given")
    args = ap.parse_args()
    if args.reach is not None:
        reach(args.reach or None)
        return 0
    if args.write:
        write()
        print(f"wrote {len(registry.REGISTRY)} rows to COVERAGE.md")
        return 0
    old, new = committed(), block()
    print("\n".join(stale(old, new)) or f"inventory current: {len(registry.REGISTRY)} rows")
    return 1 if old != new else 0


if __name__ == "__main__":
    sys.exit(main())
