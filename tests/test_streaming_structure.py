"""Structure guard: the bounded micro-batch runner exists once.

Pure AST, no Spark.  Fails naming ``path:line`` for every stream writer
(``.writeStream``), wait for termination (``.awaitTermination``) or
files-per-trigger option (``maxFilesPerTrigger``) in the package outside
``streaming/runner.py``, and unless exactly one function starts streams.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "datafusion_tpch_spark"
RUNNER = PKG / "streaming" / "runner.py"
_CALLS = {"writeStream", "awaitTermination"}
_OPTION = "maxfilespertrigger"  # Spark matches option keys case-insensitively


def _hits(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _CALLS:
            yield node.lineno, node.attr
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.lower() == _OPTION):
            yield node.lineno, node.value
        elif isinstance(node, ast.keyword) and (node.arg or "").lower() == _OPTION:
            yield node.value.lineno, node.arg


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(encoding="utf-8"), str(path))


def test_stream_plumbing_only_in_runner():
    bad = [
        f"{path.relative_to(PKG.parent)}:{line} {what}"
        for path, tree in _modules() if path != RUNNER
        for line, what in sorted(_hits(tree))
    ]
    assert not bad, "stream plumbing outside streaming/runner.py:\n" + "\n".join(bad)


def test_one_function_starts_streams():
    starters = [
        f"{path.relative_to(PKG.parent)}:{fn.lineno} {fn.name}"
        for path, tree in _modules()
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(isinstance(n, ast.Attribute) and n.attr == "writeStream"
                for n in ast.walk(fn))
    ]
    assert len(starters) == 1, "functions calling writeStream:\n" + "\n".join(starters)
