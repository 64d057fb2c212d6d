"""One implementation per job: no two functions in the package share a
body once their parameters are renamed. A copy of a helper drifts from
its original the first time only one of them is fixed; call the one
that exists instead."""

from __future__ import annotations

import ast
import copy
from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "quantlab_data_pipeline_spark"

#: Bodies shorter than this (after the docstring) are too small to be a
#: copied job: one-line wrappers and accessors legitimately repeat.
MIN_STATEMENTS = 2


class _Rename(ast.NodeTransformer):
    def __init__(self, names: dict[str, str]):
        self.names = names

    def visit_Name(self, node: ast.Name) -> ast.Name:
        node.id = self.names.get(node.id, node.id)
        return node


def _body_key(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str | None:
    """The function's body with its parameters renamed by position, as
    an AST dump without line numbers; None for short bodies."""
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    if len(body) < MIN_STATEMENTS:
        return None
    a = fn.args
    params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
    names = {p.arg: f"__p{i}" for i, p in enumerate(params) if p is not None}
    renamed = _Rename(names).visit(ast.Module(copy.deepcopy(body), []))
    return ast.dump(renamed)


def _duplicate_bodies(sources: dict[str, str]) -> list[list[str]]:
    """Groups of ``file:line name`` whose bodies are identical once
    parameters are renamed."""
    seen: dict[str, list[str]] = defaultdict(list)
    for rel, source in sources.items():
        for node in ast.walk(ast.parse(source)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                key = _body_key(node)
                if key is not None:
                    seen[key].append(f"{rel}:{node.lineno} {node.name}")
    return sorted(sorted(g) for g in seen.values() if len(g) > 1)


def test_no_two_functions_share_a_body():
    sources = {
        p.relative_to(PACKAGE).as_posix(): p.read_text()
        for p in sorted(PACKAGE.rglob("*.py"))
    }
    duplicates = _duplicate_bodies(sources)
    assert not duplicates, duplicates


def test_duplicate_scanner_renames_parameters_only():
    src = (
        "def a(df, col):\n"
        '    """doc a"""\n'
        "    x = col + 1\n"
        "    return df(x)\n"
        "async def b(frame, c):\n"
        "    x = c + 1\n"
        "    return frame(x)\n"
        "def c(df, col):\n"
        "    y = col + 1\n"
        "    return df(y)\n"
        "def d(df):\n"
        "    return df\n"
        "def e(g):\n"
        "    return g\n"
    )
    # a and b differ only in parameter names; c renames a local, and
    # d/e are one statement long.
    assert _duplicate_bodies({"m.py": src}) == [["m.py:1 a", "m.py:5 b"]]
