"""Every function and class in ``llmops/``, every private top-level
function in the package and every ``Lakehouse`` method and class
attribute must be reachable from the engine's entry points.

Pure AST walk: no import of the package, no Spark session. Roots are the
entry scripts (``__spark_entry__.py``, ``__main__.py``, ``bench.py``,
``scale_ladder.py``, ``perfbench/*.py``), every ``@register``ed query and
every public top-level name in the package outside ``llmops/`` (the
operator inventory, the catalog and the connectors are public API by
design), plus module-level code outside ``llmops/``. ``Lakehouse``'s
methods and class attributes, public or private, are reached only by
name, like top-level definitions: a public method that only tests call
is dead. Its dunder methods are called by the language, not by name, so
they are reached with the class. The one named root is ``connect_s3``.
A definition is reached when a reached body
names it (``Name``, ``Attribute`` or ``from ... import``), transitively.
Import statements in package ``__init__`` files are re-exports and do
not count. Matching is by name only, so a shadowing local can hide dead
code but never flags live code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "at_data_pipelines_spark"
LLMOPS = PKG / "llmops"
CATALOG = PKG / "catalog.py"

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


def _members(cls: ast.ClassDef) -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """``{member name -> defining statements}`` for a class's methods and
    class attributes, plus the rest of the class (bases, decorators,
    dunder methods, other statements), which is reached with the class
    itself."""
    members: dict[str, list[ast.AST]] = {}
    shell: list[ast.AST] = [*cls.decorator_list, *cls.bases]
    for stmt in cls.body:
        if isinstance(stmt, _DEFS) and stmt.name.startswith("__"):
            shell.append(stmt)
        elif isinstance(stmt, _DEFS):
            members.setdefault(stmt.name, []).append(stmt)
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        members.setdefault(n.id, []).append(stmt)
        else:
            shell.append(stmt)
    return members, shell


def _walk() -> tuple[set[str], dict[str, set[str]], dict[str, set[str]], set[str]]:
    """(reached names, llmops name -> {module}, private top-level function
    name -> {module} outside ``llmops/``, ``Lakehouse`` member names)."""
    defs: dict[str, list[ast.AST]] = {}  # name -> bodies defining it
    owner: dict[str, set[str]] = {}  # llmops name -> {module}
    module_code: dict[str, list[ast.stmt]] = {}  # llmops module -> non-def stmts
    private: dict[str, set[str]] = {}  # private function -> {module}
    lake_members: set[str] = set()
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
                body: ast.AST = stmt
                if path == CATALOG and isinstance(stmt, ast.ClassDef) and stmt.name == "Lakehouse":
                    members, shell = _members(stmt)
                    body = ast.Module(body=shell, type_ignores=[])
                    lake_members = set(members)
                    for m, stmts in members.items():
                        defs.setdefault(m, []).extend(stmts)
                    # the paper's ``bl.connect_s3(path, storage_options)``
                    # entry point: how a user opens an object-store lake,
                    # so it is API whether or not an in-repo script calls it
                    seeds.add("connect_s3")
                elif (not in_llmops and stmt.name.startswith("_")
                      and not isinstance(stmt, ast.ClassDef)):
                    private.setdefault(stmt.name, set()).add(
                        ".".join(path.relative_to(PKG).with_suffix("").parts))
                defs.setdefault(stmt.name, []).append(body)
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
    return reached, owner, private, lake_members


def unreached_llmops() -> list[str]:
    """``module.name`` for each top-level llmops definition no root reaches."""
    reached, owner, _, _ = _walk()
    return sorted(f"{mod}.{name}" for name, mods in owner.items()
                  if name not in reached for mod in mods)


def unreached_private() -> list[str]:
    """``module.name`` for each private top-level function outside
    ``llmops/`` no root reaches."""
    reached, _, private, _ = _walk()
    return sorted(f"{mod}.{name}" for name, mods in private.items()
                  if name not in reached for mod in mods)


def unreached_lakehouse() -> list[str]:
    """Each ``Lakehouse`` method or class attribute no root reaches."""
    reached, _, _, members = _walk()
    return sorted(f"catalog.Lakehouse.{n}" for n in members - reached)


def test_llmops_has_no_unreached_code():
    dead = unreached_llmops()
    assert not dead, (
        f"{len(dead)} llmops definitions are reached by no query, pipeline, "
        "stream, CLI or benchmark entry point; delete them or wire them in:\n  "
        + "\n  ".join(dead))


def test_package_has_no_unreached_private_functions():
    dead = unreached_private()
    assert not dead, (
        f"{len(dead)} private functions are reached by no root; delete "
        "them or wire them in:\n  " + "\n  ".join(dead))


def test_lakehouse_has_no_unreached_members():
    dead = unreached_lakehouse()
    assert not dead, (
        f"{len(dead)} Lakehouse members are reached by no query, pipeline, "
        "stream, CLI or benchmark entry point; delete them or wire them "
        "in:\n  " + "\n  ".join(dead))
