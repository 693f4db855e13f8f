"""No unused imports in the core modules (stdlib ``ast`` only — no linter
is a dependency of this package).

An import is checked against the scope it is made in: a module-level
import must be used somewhere in the module (or listed in ``__all__``),
a function-local import somewhere in that function.  Quoted annotations
count as uses."""

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "btl_bloomfilter_spark"

CORE = [
    "session.py",
    *sorted(str(p.relative_to(PKG)) for p in (PKG / "sources").glob("*.py")),
    "functions/hashing.py",
    "functions/probe.py",
    "operators/base.py",
    "operators/bloom.py",
    "operators/hll.py",
    "operators/kll.py",
    "operators/tdigest.py",
    "operators/counting.py",
    "operators/countsketch.py",
    "operators/topk.py",
    "operators/mibf.py",
    "plans/agg.py",
    "streaming/accumulate.py",
]

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def _names_used(scope: ast.AST) -> set[str]:
    used = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name):
            used.add(node.id)
        ann = []
        if isinstance(node, (ast.arg, ast.AnnAssign)):
            ann = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            ann = [node.returns]
        for a in ann:
            if isinstance(a, ast.Constant) and isinstance(a.value, str):
                used |= {n.id for n in ast.walk(ast.parse(a.value, mode="eval")) if isinstance(n, ast.Name)}
    return used


def _imports_of(scope: ast.AST) -> dict[str, int]:
    """name -> line of every import made directly in ``scope``."""
    out: dict[str, int] = {}
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, _SCOPES):
            continue
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                out[a.asname or a.name] = node.lineno
        stack.extend(ast.iter_child_nodes(node))
    return out


def unused_imports(source: str) -> list[tuple[str, int]]:
    tree = ast.parse(source)
    exported = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets):
            exported = {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    found = []
    scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    for scope in scopes:
        used = _names_used(scope) | (exported if scope is tree else set())
        found += [(name, line) for name, line in _imports_of(scope).items() if name not in used]
    return sorted(found, key=lambda x: x[1])


def test_scanner_finds_unused_and_respects_scope():
    src = (
        "import os\nimport numpy as np\nfrom typing import Any\n__all__ = ['Any']\n"
        "def f() -> 'np.ndarray':\n    import sys\n    import json\n    return json.dumps(1)\n"
        "def g():\n    return sys\n"
    )
    assert unused_imports(src) == [("os", 1), ("sys", 6)]


@pytest.mark.parametrize("rel", CORE)
def test_no_unused_imports(rel):
    assert unused_imports((PKG / rel).read_text()) == []
