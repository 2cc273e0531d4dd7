"""Every function and class in ``llmops/`` must be reachable from the
engine's entry points.

Pure AST walk: no import of the package, no Spark session. Roots are the
entry scripts (``__spark_entry__.py``, ``__main__.py``, ``bench.py``,
``scale_ladder.py``, ``perfbench/*.py``), every ``@register``ed query and
every public top-level name in the package outside ``llmops/`` (the
operator inventory, the catalog and the connectors are public API by
design), plus module-level code outside ``llmops/``. A top-level
definition is reached when a reached body names it (``Name``,
``Attribute`` or ``from ... import``), transitively. Import statements in
package ``__init__`` files are re-exports and do not count. Matching is by
name only, so a shadowing local can hide dead code but never flags live
code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "at_data_pipelines_spark"
LLMOPS = PKG / "llmops"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree refers to."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_registered(fn: ast.AST) -> bool:
    for d in getattr(fn, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
        if name == "register":
            return True
    return False


def unreached_llmops() -> list[str]:
    """``module.name`` for each top-level llmops definition no root reaches."""
    defs: dict[str, list[ast.AST]] = {}  # name -> bodies defining it
    owner: dict[str, set[str]] = {}  # llmops name -> {module}
    module_code: dict[str, list[ast.stmt]] = {}  # llmops module -> non-def stmts
    seeds: set[str] = set()

    entry = [ROOT / "__spark_entry__.py", PKG / "__main__.py", ROOT / "bench.py",
             ROOT / "scale_ladder.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    for path in entry:
        seeds |= _names(ast.parse(path.read_text()))

    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        in_llmops = LLMOPS in path.parents
        is_init = path.name == "__init__.py"
        mod = path.relative_to(LLMOPS).with_suffix("").as_posix() if in_llmops else ""
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(stmt)
                if in_llmops:
                    owner.setdefault(stmt.name, set()).add(mod)
                elif not stmt.name.startswith("_") or _is_registered(stmt):
                    seeds.add(stmt.name)
            elif is_init and isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif in_llmops:
                module_code.setdefault(mod, []).append(stmt)
            else:
                seeds |= _names(stmt)

    reached: set[str] = set()
    live_modules: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for body in defs[name]:
            todo.extend(_names(body))
        # a reached llmops module runs its module-level code on import
        for mod in owner.get(name, ()):
            if mod not in live_modules:
                live_modules.add(mod)
                for stmt in module_code.get(mod, []):
                    todo.extend(_names(stmt))

    return sorted(f"{mod}.{name}" for name, mods in owner.items()
                  if name not in reached for mod in mods)


def test_llmops_has_no_unreached_code():
    dead = unreached_llmops()
    assert not dead, (
        f"{len(dead)} llmops definitions are reached by no query, pipeline, "
        "stream, CLI or benchmark entry point; delete them or wire them in:\n  "
        + "\n  ".join(dead))
