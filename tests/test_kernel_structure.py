"""Structure guard: the multimodal codecs have one row kernel.

Pure AST, no Spark.  Fails naming ``path:line`` for every function of
``operators/multimodal.py`` other than ``_row_kernel`` that calls
``mapInPandas`` or ``itertuples``, and unless the Knuth raster constant
is written once.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "datafusion_tpch_spark"
MODULE = PKG / "operators" / "multimodal.py"
KERNEL = "_row_kernel"
_CALLS = {"mapInPandas", "itertuples"}


def _tree() -> ast.Module:
    return ast.parse(MODULE.read_text(encoding="utf-8"), str(MODULE))


def test_one_row_kernel_in_multimodal():
    tree = _tree()
    bad = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name == KERNEL:
            continue
        hits = sorted((n.lineno, n.attr) for n in ast.walk(fn)
                      if isinstance(n, ast.Attribute) and n.attr in _CALLS)
        if hits:
            names = ", ".join(sorted({attr for _, attr in hits}))
            bad.append(f"{MODULE.relative_to(PKG.parent)}:{hits[0][0]} "
                       f"{fn.name} ({names})")
    assert not bad, (
        f"per-row kernels outside {KERNEL}:\n" + "\n".join(bad)
    )
    kernels = [fn for fn in tree.body
               if isinstance(fn, ast.FunctionDef) and fn.name == KERNEL]
    assert len(kernels) == 1, f"expected one {KERNEL}, found {len(kernels)}"


def test_raster_constant_written_once():
    lines = [f"{MODULE.relative_to(PKG.parent)}:{n.lineno}"
             for n in ast.walk(_tree())
             if isinstance(n, ast.Constant) and n.value == 2654435761]
    assert len(lines) == 1, "raster constant 2654435761 at:\n" + "\n".join(lines)
