"""Every top-level function and class in the package, and every
``Lakehouse`` method and class attribute, must be reachable from the
engine's roots.

Pure AST walk: no import of the package, no Spark session. The roots are:

- the entry scripts (``__spark_entry__.py``, ``__main__.py``,
  ``bench.py``, ``perfbench/*.py``): every name they mention;
- every ``@register``ed query;
- module-level code outside ``llmops/`` (import statements excepted: an
  import binds a name, it does not use it);
- ``ROOTS``: the names a user of the engine calls that no in-repo entry
  point does, each with its reason.

A public name is not a root by being public, and a benchmark harness
that only measures a feature (``scale_ladder.py``) is not a user of it:
code that nothing above reaches is dead, whatever its visibility.

``Lakehouse``'s methods and class attributes are reached only by name,
like top-level definitions. Its dunder methods are called by the
language, not by name, so they are reached with the class. A definition
is reached when a reached body names it (``Name``, ``Attribute`` or
``from ... import``), transitively; a name bound by ``import ... as``
reaches what it aliases. Matching is by name only, so a shadowing name
can hide dead code but never flags live code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "at_data_pipelines_spark"
LLMOPS = PKG / "llmops"
CATALOG = PKG / "catalog.py"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

_REF = "the reference's"
_SINK = "streaming operator or sink on the fixed surface (COVERAGE §2.9)"
_ACCESSOR = (f"research accessor, {_REF} pipelines/utils/data.py (COVERAGE "
             "§3.3); perfbench wraps every get_* through vars(accessors)")

# name -> why it is API although no entry script, query or module-level
# code calls it
ROOTS: dict[str, str] = {
    "connect_s3": "the paper's bl.connect_s3(path, storage_options): how a "
                  "user opens an object-store lake",
    **{name: _SINK for name in (
        "windowed_aggregation", "sessionize_stream", "running_user_stats",
        "dedup_stream", "enrich_stream", "purchase_attribution_stream",
        "stream_to_lakehouse", "windowed_distinct_users", "run_sessions_daily",
        "create_ingest_tables", "near_dup_ingest_stream",
        "ann_index_maintenance_stream")},
    **{name: _ACCESSOR for name in (
        "get_universe_returns", "get_alphas", "get_benchmark_weights",
        "get_factor_loadings", "get_idio_vol", "get_prices",
        "get_factor_covariances", "get_last_market_dates")},
    **{name: f"{_REF} minute-bar and equity history flows (COVERAGE S6, S7)"
       for name in ("create_history_tables", "history_flow", "portfolio_history_flow")},
    **{name: f"{_REF} notification sink (COVERAGE S11)"
       for name in ("with_failure_notification", "daily_summary",
                    "actual_trades_summary", "daily_trading_summary",
                    "compute_target_trades")},
    **{name: f"{_REF} REST connector: daily bars, filled orders (COVERAGE S5, S8)"
       for name in ("RestBarSource", "filled_orders_frame")},
    "parse_constituent_tables": f"{_REF} constituents scrape (COVERAGE S9)",
    "reconstruct_membership": "point-in-time index membership (COVERAGE U8)",
    "should_run_daily": "market-closed guard of the daily run (COVERAGE §2.9)",
    **{name: "bar resampling, adjustment and calendar alignment (COVERAGE §2.5)"
       for name in ("resample_bars", "adjust_bars", "align_to_calendar")},
    **{name: "builds and saves the IVF-PQ index that "
             "ann_index_maintenance_stream loads (COVERAGE: ANN index persistence)"
       for name in ("train_index", "save_index")},
    "topk": "probes the persisted IVF-PQ index (COVERAGE: ANN index persistence)",
}


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


def _aliases(trees) -> dict[str, set[str]]:
    """``{alias -> {imported name}}`` for every ``import ... as``."""
    out: dict[str, set[str]] = {}
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    if a.asname:
                        out.setdefault(a.asname, set()).add(a.name.rpartition(".")[2])
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


def _walk() -> tuple[set[str], dict[str, set[str]]]:
    """(reached names, ``{definition name -> {qualified name}}`` for every
    top-level definition and every ``Lakehouse`` member)."""
    defs: dict[str, list[ast.AST]] = {}  # name -> bodies defining it
    where: dict[str, set[str]] = {}  # name -> {module.name}
    owner: dict[str, set[str]] = {}  # llmops name -> {module}
    module_code: dict[str, list[ast.stmt]] = {}  # llmops module -> non-def stmts
    seeds: set[str] = set(ROOTS)

    entry = [ROOT / "__spark_entry__.py", PKG / "__main__.py", ROOT / "bench.py",
             *sorted((ROOT / "perfbench").glob("*.py"))]
    trees = {path: ast.parse(path.read_text())
             for path in [*entry, *sorted(PKG.rglob("*.py"))]}
    aliases = _aliases(trees.values())
    for path in entry:
        seeds |= _names(trees.pop(path))

    for path, tree in trees.items():
        in_llmops = LLMOPS in path.parents
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                body: ast.AST = stmt
                if path == CATALOG and isinstance(stmt, ast.ClassDef) and stmt.name == "Lakehouse":
                    members, shell = _members(stmt)
                    body = ast.Module(body=shell, type_ignores=[])
                    for m, stmts in members.items():
                        defs.setdefault(m, []).extend(stmts)
                        where.setdefault(m, set()).add(f"catalog.Lakehouse.{m}")
                defs.setdefault(stmt.name, []).append(body)
                where.setdefault(stmt.name, set()).add(f"{mod}.{stmt.name}")
                if in_llmops:
                    owner.setdefault(stmt.name, set()).add(mod)
                elif _is_registered(stmt):
                    seeds.add(stmt.name)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
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
        if name in reached:
            continue
        reached.add(name)
        todo.extend(aliases.get(name, ()))
        for body in defs.get(name, ()):
            todo.extend(_names(body))
        # a reached llmops module runs its module-level code on import
        for mod in owner.get(name, ()):
            if mod not in live_modules:
                live_modules.add(mod)
                for stmt in module_code.get(mod, []):
                    todo.extend(_names(stmt))
    return reached, where


def unreached() -> list[str]:
    """``module.name`` for each definition no root reaches."""
    reached, where = _walk()
    return sorted(q for name, qs in where.items() if name not in reached for q in qs)


def _report(dead: list[str], what: str) -> str:
    return (f"{len(dead)} {what} are reached by no query, pipeline, stream, "
            "CLI, benchmark entry point or ROOTS entry; delete them or wire "
            "them in:\n  " + "\n  ".join(dead))


def test_llmops_has_no_unreached_code():
    dead = [q for q in unreached() if q.startswith("llmops.")]
    assert not dead, _report(dead, "llmops definitions")


def test_lakehouse_has_no_unreached_members():
    dead = [q for q in unreached() if q.startswith("catalog.Lakehouse.")]
    assert not dead, _report(dead, "Lakehouse members")


def test_package_has_no_unreached_definitions():
    dead = [q for q in unreached()
            if not q.startswith(("llmops.", "catalog.Lakehouse."))]
    assert not dead, _report(dead, "top-level definitions")


def test_every_root_names_a_definition():
    _, where = _walk()
    stale = sorted(set(ROOTS) - set(where))
    assert not stale, (
        "ROOTS names definitions that do not exist; a stale root could hide "
        "dead code under a reused name:\n  " + "\n  ".join(stale))


def write_only_attributes() -> list[str]:
    """``module.attr`` for each ``self.<attr>`` the package assigns (plain,
    annotated or augmented) and never loads, on any object, anywhere in
    the package."""
    stored: dict[str, set[str]] = {}
    loaded: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for n in ast.walk(ast.parse(path.read_text())):
            if not isinstance(n, ast.Attribute):
                continue
            if isinstance(n.ctx, ast.Load):
                loaded.add(n.attr)
            elif isinstance(n.value, ast.Name) and n.value.id == "self":
                stored.setdefault(n.attr, set()).add(mod)
    return sorted(f"{m}.{a}" for a, mods in stored.items() if a not in loaded for m in mods)


def test_no_instance_attribute_is_write_only():
    """Instance state that is written but never read is dead code the
    definition walk cannot see: each write is wasted work, and its
    comment tends to cite a reader that is gone."""
    dead = write_only_attributes()
    assert not dead, (
        "instance attributes assigned but never read; delete them or read "
        "them:\n  " + "\n  ".join(dead))
