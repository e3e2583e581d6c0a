"""One-definition lint for the rollup cell.

The min-count gate and the ``(psum, pcount, pslots)`` partials are defined
once, in ``diive_spark/operators/resample.py``; tier, streaming and
calendar rollups call that definition instead of re-deriving it.  This
scans the Python code under ``diive_spark/`` — not the DuckDB oracle SQL
(string literals are not code) and not the pandas oracle under
``oracle/``, which tests compare against and so must stay independent.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "diive_spark"
HOME = "operators/resample.py"
PARTIAL_ALIASES = {"psum", "pcount", "pslots"}


def _code():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if not rel.startswith("oracle/"):
            yield rel, ast.parse(path.read_text(), filename=rel)


def _name(func: ast.expr) -> str | None:
    return getattr(func, "attr", None) or getattr(func, "id", None)


def _lt_three(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Compare)
        and [type(op) for op in node.ops] == [ast.Lt]
        and isinstance(node.comparators[0], ast.Constant)
        and node.comparators[0].value == 3
    )


def _gate_fallbacks(tree: ast.AST) -> int:
    """``when(<x> < 3, ...)`` or ``floor(...) < 3``: the gate's fallback."""
    hits = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _name(node.func) == "when":
            if node.args and _lt_three(node.args[0]):
                hits.add(id(node.args[0]))
        elif _lt_three(node) and any(
            isinstance(c, ast.Call) and _name(c.func) == "floor"
            for c in ast.walk(node.left)
        ):
            hits.add(id(node))
    return len(hits)


def _partial_aliases(tree: ast.AST) -> set[str]:
    return {
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value in PARTIAL_ALIASES
    }


def test_min_count_gate_defined_once():
    found = {rel: n for rel, tree in _code() if (n := _gate_fallbacks(tree))}
    assert found == {HOME: 1}, found


def test_sum_count_partials_defined_once():
    found = {rel: a for rel, tree in _code() if (a := _partial_aliases(tree))}
    assert found == {HOME: PARTIAL_ALIASES}, found
