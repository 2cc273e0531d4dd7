"""Every Lakehouse data write lands through one of two commits.

``Lakehouse._commit_replace`` commits a generation as the new base of the
partition scope it was rewritten from; ``_commit_append`` commits one as a
live delta. Deletion vectors (metadata-only row deletes) have one writer,
``_write_vectors``, behind both ``delete_where`` and ``update_where``; it
commits its vectors itself. A write path that builds its own rebase,
prunes the manifest or reclaims superseded generations is a copy of that
bookkeeping, and copies drift: before the two commits existed, only the
optimize copy checked that a rewrite had read a partition before dropping
its emptied pointer. Likewise a delta enters ``meta.live_deltas`` only
through ``_stage_delta``, which also marks its partitions dirty.

Pure AST walk over the package: no import, no Spark session. A call is
matched by the called name (``self._make_rebase(...)``,
``Lakehouse._prune_zone_maps(...)``) and charged to the top-level
function or method whose body holds it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "at_data_pipelines_spark"

COMMITS = {"_commit_replace", "_commit_append"}
DV_COMMITS = {"_write_vectors"}
DELTA_STAGE = "_stage_delta"
# bookkeeping helper -> the only methods that may call it
ALLOWED = {
    "_make_rebase": COMMITS | DV_COMMITS,
    DELTA_STAGE: {"_commit_append"} | DV_COMMITS,
    "_clean_superseded": {"_commit_replace"},
    # _make_rebase's rebase closure re-prunes the rival manifest it
    # re-applies this writer's commit onto
    "_prune_zone_maps": COMMITS | {"_make_rebase"},
    "_prune_deletion_vectors": COMMITS | {"_make_rebase"},
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _owners(tree: ast.Module):
    """(owner name, subtree) for every top-level function, every method
    of a top-level class, and the rest of the module as ``<module>``."""
    rest: list[ast.stmt] = []
    for stmt in tree.body:
        if isinstance(stmt, _FUNCS):
            yield stmt.name, stmt
        elif isinstance(stmt, ast.ClassDef):
            for m in stmt.body:
                if isinstance(m, _FUNCS):
                    yield m.name, m
                else:
                    rest.append(m)
        else:
            rest.append(stmt)
    yield "<module>", ast.Module(body=rest, type_ignores=[])


def _helper_calls() -> list[tuple[str, str, str]]:
    """(module, calling owner, helper) for every call of a helper."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for owner, node in _owners(ast.parse(path.read_text())):
            for n in ast.walk(node):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ALLOWED:
                    out.append((mod, owner, name))
    return out


def _delta_appends() -> list[tuple[str, str]]:
    """(module, owner) for every ``meta.live_deltas.append/extend/insert``
    call and every ``meta.live_deltas += ...``."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for owner, node in _owners(ast.parse(path.read_text())):
            for n in ast.walk(node):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                    target = n.func.value if n.func.attr in ("append", "extend", "insert") else None
                elif isinstance(n, ast.AugAssign):
                    target = n.target
                else:
                    continue
                if (
                    isinstance(target, ast.Attribute)
                    and target.attr == "live_deltas"
                    and isinstance(target.value, ast.Name)
                    and target.value.id == "meta"
                ):
                    out.append((mod, owner))
    return out


def test_bookkeeping_runs_only_in_the_commits():
    bad = sorted(
        f"{mod}::{owner} calls {helper}"
        for mod, owner, helper in _helper_calls()
        if owner not in ALLOWED[helper]
    )
    assert not bad, (
        "post-write manifest bookkeeping outside the two commits — land the "
        "write through _commit_replace or _commit_append instead: "
        + "; ".join(bad)
    )


def test_commits_own_the_bookkeeping():
    """The check above passes vacuously if the commits stop calling the
    helpers (a rename, or the bookkeeping moving elsewhere)."""
    calls = {(owner, helper) for _mod, owner, helper in _helper_calls()}
    for commit in COMMITS:
        for helper in ("_make_rebase", "_prune_zone_maps", "_prune_deletion_vectors"):
            assert (commit, helper) in calls, f"{commit} no longer calls {helper}"
    assert ("_commit_replace", "_clean_superseded") in calls
    assert ("_commit_append", DELTA_STAGE) in calls
    for dv in DV_COMMITS:
        for helper in ("_make_rebase", DELTA_STAGE):
            assert (dv, helper) in calls, f"{dv} no longer calls {helper}"


def test_only_the_delta_helper_lists_a_delta():
    """A write that appends to ``meta.live_deltas`` itself is a copy of
    ``_stage_delta``'s dirty-set and zone-map bookkeeping."""
    owners = _delta_appends()
    assert ("catalog.py", DELTA_STAGE) in owners, f"{DELTA_STAGE} no longer lists the delta"
    bad = sorted(f"{mod}::{owner}" for mod, owner in owners if owner != DELTA_STAGE)
    assert not bad, (
        f"meta.live_deltas grows outside {DELTA_STAGE} — stage the delta "
        "through it instead: " + "; ".join(bad)
    )
