"""Structure guard: each shared mechanism exists once, in one named place.

Pure AST over ``datafusion_tpch_spark``, no Spark, no fixture.  ``RULES``
has one row per mechanism:

- ``match`` reads one module (its AST and its text) and yields
  ``(line, what)`` for every match;
- ``scope`` is the path prefix, relative to the package, of the modules
  scanned (``""``: the whole package);
- ``home`` is the one place allowed to hold a match: a module
  (``"streaming/runner.py"``) or one of its top-level functions
  (``"operators/similarity.py:query_rank"``; ``<module>`` stands for
  module level), and the home must hold at least one match (exactly one
  when ``once``);
- ``allowed`` lists the other places that keep a match, each with its
  reason.

A match anywhere else fails, naming ``path:line``.  The call-graph scan
of ``tests/test_dead_code.py`` is not a row here: it resolves names across
the whole repo rather than matching nodes of one module.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "datafusion_tpch_spark"


Matcher = Callable[[ast.Module, str], Iterator[tuple[int, str]]]


@dataclass(frozen=True)
class Rule:
    name: str
    match: Matcher
    home: tuple[str, ...]
    scope: str = ""
    once: bool = False
    allowed: dict[str, str] = field(default_factory=dict)


def _nodes(pred: Callable[[ast.AST], "str | None"]) -> Matcher:
    """Every AST node for which ``pred`` names what it found."""
    def match(tree, _text):
        for node in ast.walk(tree):
            what = pred(node)
            if what is not None:
                yield node.lineno, what
    return match


def _lines(pattern: str) -> Matcher:
    """Every source line the regex matches: SQL text inside f-strings,
    whose literal parts carry no line of their own in the AST."""
    regex = re.compile(pattern)

    def match(_tree, text):
        for line, src in enumerate(text.splitlines(), 1):
            if regex.search(src):
                yield line, regex.pattern
    return match


def _attr(*names: str) -> Matcher:
    """An attribute read or written, e.g. ``.writeStream``."""
    return _nodes(lambda n: n.attr if isinstance(n, ast.Attribute)
                  and n.attr in names else None)


def _call(name: str) -> Matcher:
    """A call of ``name`` or ``<module>.name``."""
    def pred(n):
        if not isinstance(n, ast.Call):
            return None
        f = n.func
        called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return f"{name}(" if called == name else None
    return _nodes(pred)


@_nodes
def _stream_option(n: ast.AST) -> "str | None":
    """The files-per-trigger source option, as a string or a keyword
    (Spark matches option keys case-insensitively)."""
    if isinstance(n, ast.Constant) and isinstance(n.value, str) \
            and n.value.lower() == "maxfilespertrigger":
        return n.value
    if isinstance(n, ast.keyword) and (n.arg or "").lower() == "maxfilespertrigger":
        return n.arg
    return None


def _any(*matchers: Matcher) -> Matcher:
    return lambda tree, text: (m for match in matchers for m in match(tree, text))


@_nodes
def _query_window(n: ast.AST) -> "str | None":
    """``Window.partitionBy("query_id")``: a per-query ranking window."""
    if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "partitionBy"
            and any(isinstance(a, ast.Constant) and a.value == "query_id"
                    for a in n.args)):
        return 'partitionBy("query_id")'
    return None


_raster_constant = _nodes(lambda n: "2654435761" if isinstance(n, ast.Constant)
                          and n.value == 2654435761 else None)


_HOISTED_NORMS = (
    "scores two vectors per pair against norms computed once per vector "
    "before the query x corpus join, so its cosine is not the per-pair "
    "vectors.cosine"
)

RULES = [
    Rule("stream-plumbing",
         _any(_attr("writeStream", "awaitTermination"), _stream_option),
         home=("streaming/runner.py",)),
    Rule("stream-starter", _attr("writeStream"),
         home=("streaming/runner.py:_run",)),
    Rule("row-kernel", _attr("mapInPandas", "itertuples"),
         scope="operators/multimodal.py",
         home=("operators/multimodal.py:_row_kernel",)),
    Rule("raster-constant", _raster_constant,
         scope="operators/multimodal.py",
         home=("operators/multimodal.py:<module>",), once=True),
    Rule("ann-cosine", _call("exact_dot"), home=("functions/vectors.py",),
         allowed={"queries/extensions.py:embeddings_sq8_recall": _HOISTED_NORMS}),
    Rule("ann-cosine-sql", _call("exact_dot_sql"), home=("functions/vectors.py",)),
    Rule("ann-rank", _query_window,
         home=("operators/similarity.py:query_rank",
               "operators/similarity.py:topk_cosine"),
         allowed={"queries/extensions.py:_ivf_query_probes":
                  "ranks each query's nearest CELLS by (qd, cid), not its "
                  "candidates; the probe step before any candidate exists"}),
    Rule("ann-rank-sql", _lines(r"PARTITION\s+BY\s+query_id\b"),
         home=("operators/similarity.py:query_rank_sql",), once=True),
]


def matches(rule: Rule, pkg: pathlib.Path = PKG) -> Iterator[tuple[str, str, int, str]]:
    """``(path, place, line, what)`` of every match of ``rule`` in ``pkg``;
    the place is ``path:<top-level function>`` or ``path:<module>``."""
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if not rel.startswith(rule.scope):
            continue
        text = path.read_text(encoding="utf-8")
        tree = ast.parse(text, str(path))
        tops = [(n.lineno, n.end_lineno, n.name) for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        for line, what in rule.match(tree, text):
            top = next((name for lo, hi, name in tops if lo <= line <= hi), "<module>")
            yield rel, f"{rel}:{top}", line, what


def violations(rule: Rule, pkg: pathlib.Path = PKG) -> "str | None":
    """Why ``pkg`` breaks ``rule``, naming ``path:line`` of each site; None
    when it holds."""
    bad, home = [], []
    for rel, place, line, what in matches(rule, pkg):
        site = f"datafusion_tpch_spark/{rel}:{line} {place.split(':')[1]} {what}"
        if rel in rule.home or place in rule.home:
            home.append(site)
        elif place not in rule.allowed:
            bad.append(site)
    if bad:
        return f"{rule.name} outside {', '.join(rule.home)}:\n" + "\n".join(bad)
    if (len(home) != 1) if rule.once else not home:
        return (f"{rule.name}: expected {'exactly' if rule.once else 'at least'}"
                f" one in {', '.join(rule.home)}, found {len(home)}:\n"
                + "\n".join(home))
    return None


@pytest.mark.parametrize("rule", RULES, ids=lambda r: r.name)
def test_mechanism_in_one_place(rule):
    why = violations(rule)
    assert why is None, why


@pytest.mark.parametrize("rule", [r for r in RULES if r.allowed],
                         ids=lambda r: r.name)
def test_allowlist_is_live(rule):
    """An allowlisted place that no longer matches is a stale entry that
    would silently cover a future copy there."""
    live = {place for _, place, _, _ in matches(rule)}
    stale = sorted(set(rule.allowed) - live)
    assert not stale, f"{rule.name}: stale allowlist entries {stale}"
    assert all(reason.strip() for reason in rule.allowed.values())
