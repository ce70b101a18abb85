"""Dead-code guard: every package function has a caller outside the tests.

A module-level function of ``datafusion_tpch_spark`` counts as called
when its name is referenced (a call, a bare name, an attribute, or an
identifier string such as a ``monkeypatch`` target) somewhere in the
repo's Python outside ``tests/`` and ``tools/``, that is in the package
itself, ``bench.py``, ``examples/``, ``perfbench/`` or ``__spark_entry__.py``,
and not only inside its own body.  An import is not a reference: a
re-export calls nothing.  Names are matched bare, so the guard can miss
a dead function that shares its name with a live one, never the reverse.

``ALLOWED`` lists the functions kept without such a caller, each with
its reason.  Pure AST: no Spark session, no fixture data.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "datafusion_tpch_spark"

_TIER_B = "reference Tier-B surface (PAPER.md), exercised by its own tests"
_PLAN_AUDIT = "plan-audit instrument of tests/test_plans.py and tools/plan_audit.py"

ALLOWED = {
    "catalog.py:information_schema_tables": _TIER_B,
    "sources/parquet_io.py:read_parquet": _TIER_B,
    "sources/parquet_io.py:copy_to_csv": _TIER_B,
    "sources/parquet_io.py:read_csv": _TIER_B,
    "sources/parquet_io.py:copy_to_orc": _TIER_B,
    "sources/parquet_io.py:read_orc": _TIER_B,
    "sources/parquet_io.py:copy_to_json": _TIER_B,
    "sources/parquet_io.py:read_json": _TIER_B,
    "sources/tpch_gen.py:call_tpch": _TIER_B,
    "plans/audit.py:audit": _PLAN_AUDIT,
    "plans/audit.py:broadcast_join_count": _PLAN_AUDIT,
    "plans/audit.py:cached_build_exchange_count": _PLAN_AUDIT,
    "plans/audit.py:kernel_front_widths": _PLAN_AUDIT,
    "operators/similarity.py:topk_cosine":
        "numpy reference the ann_bruteforce_topk gate is checked against",
    "operators/clustering.py:inertia":
        "k-means objective the embeddings_kmeans refinement is checked against",
}


def _package_functions() -> dict[str, ast.FunctionDef]:
    """``"<module path>:<name>"`` -> def node, module-level, non-dunder."""
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and not node.name.startswith("__"):
                out[f"{rel}:{node.name}"] = node
    return out


def _caller_files() -> list[Path]:
    skip = {"tests", "tools", ".git", "__pycache__"}
    return [p for p in sorted(ROOT.rglob("*.py"))
            if not skip & set(p.relative_to(ROOT).parts)]


def _references() -> dict[str, list[tuple[Path, int]]]:
    """Bare name -> every (file, line) that references it."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.isidentifier():
                name = node.value
            else:
                continue
            refs.setdefault(name, []).append((path, node.lineno))
    return refs


def _uncalled() -> dict[str, int]:
    """``"<module path>:<name>"`` -> def line, for functions no file
    outside tests/ and tools/ references outside their own body."""
    refs = _references()
    out = {}
    for key, node in _package_functions().items():
        path = PACKAGE / key.split(":")[0]
        outside = [
            (p, line) for p, line in refs.get(node.name, [])
            if not (p == path and node.lineno <= line <= node.end_lineno)
        ]
        if not outside:
            out[key] = node.lineno
    return out


def test_every_package_function_has_a_caller():
    dead = {k: line for k, line in _uncalled().items() if k not in ALLOWED}
    assert not dead, (
        "package functions with no caller outside tests/ and tools/ "
        "(give each a caller, delete it, or allowlist it with a reason): "
        + ", ".join(f"datafusion_tpch_spark/{k.split(':')[0]}:{line} "
                    f"{k.split(':')[1]}" for k, line in sorted(dead.items()))
    )


def test_allowlist_is_live():
    """An allowlisted function that is gone, or has gained a caller, is a
    stale entry that would silently cover a future dead function."""
    uncalled = _uncalled()
    stale = sorted(k for k in ALLOWED if k not in uncalled)
    assert not stale, f"stale ALLOWED entries: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())
