"""Query fingerprints and the correctness check's window order.

The sf0.01 correctness check re-verifies only the first
``DRIVER_CHECK_BUDGET`` entries of ``queries()`` against DuckDB each
round; every other query rides on its last green check result, recorded
in ``verified.json`` as the fingerprint the query had then.  A query
whose fingerprint differs now must sit in that window, so the order is
derived rather than kept by hand:

* a fingerprint hashes the query function, its oracle SQL and every
  package function, class or module-level assignment the function
  reaches, transitively, resolved from the AST against module globals
  (bare names, module-alias attributes such as ``DD.connected_components``,
  function-local imports, ``from X import name`` re-exports).  A class is
  hashed whole, so a method edit marks every user of the class.  Module
  statements that run at import for their effect (asserts, table fills)
  count as a dependency of every unit in their module.
* comments and blank lines are not hashed: they cannot change a result.

Nothing here runs at import; ``registry`` calls it on the first
``queries()`` / ``oracle_sql()`` and caches the order.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import io
import os
import tokenize
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

_PKG = __name__.rpartition(".")[0]
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EFFECTS = "<module>"  # pseudo-unit: a module's import-time statements


def _module_path(mod: str) -> str | None:
    if mod != _PKG and not mod.startswith(_PKG + "."):
        return None
    base = os.path.join(_ROOT, *mod.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


@dataclass
class _Module:
    lines: list[str]  # source lines with comments stripped
    defs: dict[str, list[ast.stmt]] = field(default_factory=dict)
    imports: dict[str, tuple[str, str | None]] = field(default_factory=dict)


def _strip_comments(src: str) -> list[str]:
    lines = src.split("\n")
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col].rstrip()
    return lines


def _bind_import(node: ast.Import | ast.ImportFrom,
                 into: dict[str, tuple[str, str | None]]) -> None:
    """Record the package names an import binds: alias -> (module, None)
    for a module, (module, name) for a symbol of one."""
    if isinstance(node, ast.Import):
        for a in node.names:
            mod = a.name if a.asname else a.name.split(".")[0]
            if _module_path(mod):
                into[a.asname or mod] = (mod, None)
        return
    for a in node.names:
        sub = f"{node.module}.{a.name}"
        if _module_path(sub):
            into[a.asname or a.name] = (sub, None)
        elif _module_path(node.module or ""):
            into[a.asname or a.name] = (node.module, a.name)


def _assigned_names(node: ast.stmt) -> list[str] | None:
    """Names a plain module-level assignment binds; None for anything
    else (a subscript or attribute store runs for its effect)."""
    if not isinstance(node, (ast.Assign, ast.AnnAssign)):
        return None
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    parts = [n for t in targets for n in ast.walk(t)
             if not isinstance(n, (ast.Tuple, ast.Store))]
    if all(isinstance(n, ast.Name) for n in parts):
        return [n.id for n in parts]
    return None


@functools.cache
def _module(mod: str) -> _Module:
    with open(_module_path(mod)) as f:
        src = f.read()
    tree = ast.parse(src)
    info = _Module(_strip_comments(src))
    for node in tree.body:
        names = _assigned_names(node)
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            _bind_import(node, info.imports)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif names is None and not (isinstance(node, ast.Expr)
                                    and isinstance(node.value, ast.Constant)):
            names = [_EFFECTS]
        for name in names or ():
            info.defs.setdefault(name, []).append(node)
    return info


def _resolve(mod: str, name: str):
    """``name`` looked up in package module ``mod``: a unit id
    ``(module, name)``, a module ``(module, None)``, or None (external)."""
    info = _module(mod)
    if name in info.defs:
        return (mod, name)
    if name in info.imports:
        target, sym = info.imports[name]
        return (target, None) if sym is None else _resolve(target, sym)
    if _module_path(f"{mod}.{name}"):
        return (f"{mod}.{name}", None)
    return None


@functools.cache
def _unit(uid: tuple[str, str]) -> tuple[str, frozenset]:
    """(comment-free source, directly referenced unit ids) of one unit."""
    mod, name = uid
    info = _module(mod)
    nodes = info.defs[name]
    text = []
    for node in nodes:
        start = min([node.lineno] + [d.lineno for d in
                                     getattr(node, "decorator_list", [])])
        text += [ln for ln in info.lines[start - 1: node.end_lineno] if ln.strip()]
    subs = [sub for node in nodes for sub in ast.walk(node)]
    local: dict[str, tuple[str, str | None]] = {}
    for sub in subs:
        if isinstance(sub, (ast.Import, ast.ImportFrom)):
            _bind_import(sub, local)

    def target(expr: ast.expr):
        if isinstance(expr, ast.Name):
            if expr.id in local:
                m, sym = local[expr.id]
                return (m, None) if sym is None else _resolve(m, sym)
            return _resolve(mod, expr.id)
        if isinstance(expr, ast.Attribute):
            base = target(expr.value)
            if base and base[1] is None:
                return _resolve(base[0], expr.attr)
        return None

    refs = {t for sub in subs if isinstance(sub, (ast.Name, ast.Attribute))
            for t in [target(sub)] if t and t[1] is not None}
    if _EFFECTS in info.defs:
        refs.add((mod, _EFFECTS))
    refs.discard(uid)
    return "\n".join(text), frozenset(refs)


def closure(fn: Callable) -> set[tuple[str, str]]:
    """Every unit ``(module, name)`` that ``fn`` reaches, ``fn`` included."""
    todo, seen = [(fn.__module__, fn.__qualname__)], set()
    while todo:
        uid = todo.pop()
        if uid not in seen:
            seen.add(uid)
            todo.extend(_unit(uid)[1])
    return seen


def fingerprint(fn: Callable, oracle: str | None) -> str:
    h = hashlib.sha256()
    for uid in sorted(closure(fn)):
        h.update(f"{uid[0]}:{uid[1]}\n{_unit(uid)[0]}\n".encode())
    h.update((oracle or "").encode())
    return h.hexdigest()[:16]


def check_order(current: Mapping[str, str], verified: Mapping[str, dict],
                budget: int) -> list[str]:
    """Check order: queries whose fingerprint differs from their last
    green row (or that have none) first, by name; then the rest, oldest
    green round first, ties by name.  More changed queries than the
    check covers per round would leave some unverified, so that fails."""
    changed = sorted(n for n, fp in current.items()
                     if verified.get(n, {}).get("fingerprint") != fp)
    if len(changed) > budget:
        raise ValueError(
            f"{len(changed)} queries changed since their last green check "
            f"row, more than the {budget} the check covers per round: "
            f"{changed}")
    rest = sorted((verified[n]["round"], n) for n in current if n not in changed)
    return changed + [n for _, n in rest]
