"""Structural checks on a function's source, for tests that guard a
property of the code itself (no driver collect, no single-task funnel).

``function_def`` finds the definition by qualified name in a fresh
parse of the module's file. ``inspect.getsource`` instead reads the
file at the line number the function was compiled with, so an edit to
the file while the tests run makes it return another function's lines.
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path


def function_def(fn) -> ast.FunctionDef:
    """The ``def`` of ``fn`` (a function or method) in its module file."""
    path = sys.modules[fn.__module__].__file__
    node: ast.AST = ast.parse(Path(path).read_text(), path)
    for part in fn.__qualname__.split("."):
        node = next(
            (
                n
                for n in ast.iter_child_nodes(node)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and n.name == part
            ),
            None,
        )
        assert node is not None, f"{fn.__qualname__} not found in {path}"
    return node


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def calls(node: ast.AST, name: str) -> list[ast.Call]:
    """Every call of a function or method named ``name`` under ``node``."""
    return [
        n for n in ast.walk(node) if isinstance(n, ast.Call) and _callee(n) == name
    ]


def method_calls(node: ast.AST, name: str, *args) -> list[ast.Call]:
    """Every ``<expr>.name(*args)`` under ``node``: a method call whose
    positional arguments are exactly the constants ``args``, with no
    keyword arguments."""
    return [
        c
        for c in calls(node, name)
        if isinstance(c.func, ast.Attribute)
        and not c.keywords
        and len(c.args) == len(args)
        and all(
            isinstance(a, ast.Constant) and a.value == v for a, v in zip(c.args, args)
        )
    ]


def mentions(node: ast.AST, word: str) -> bool:
    """Whether ``word`` occurs under ``node`` as a name, an attribute or
    inside a string constant (SQL text passed to ``F.expr``, say)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id == word:
            return True
        if isinstance(n, ast.Attribute) and n.attr == word:
            return True
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and word in n.value:
            return True
    return False


def sql_calls(node: ast.AST, name: str) -> list[str]:
    """Every string constant under ``node`` that calls the SQL function
    ``name`` (text passed to ``F.expr`` or ``selectExpr``, say)."""
    call = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
    return [
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and call.search(n.value)
    ]
