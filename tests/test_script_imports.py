"""Every `from pymongraph_spark... import name` in scripts/*.py and
bench.py must resolve. The scripts run only by hand, so a renamed or
deleted helper would otherwise break them silently. Pure ast over the
source tree: no Spark, no imports of the package."""

from __future__ import annotations

import ast
import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def _module_path(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(path: str) -> set[str]:
    """Names bound at module level, including inside top-level
    if/try/with blocks."""
    names: set[str] = set()

    def visit(stmts):
        for node in stmts:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            names.add(n.id)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add((a.asname or a.name).split(".")[0])
            if isinstance(node, (ast.If, ast.Try, ast.With)):
                for field in ("body", "orelse", "finalbody"):
                    visit(getattr(node, field, []))
                for handler in getattr(node, "handlers", []):
                    visit(handler.body)

    with open(path) as fh:
        visit(ast.parse(fh.read()).body)
    return names


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_script_package_imports_resolve(script):
    with open(script) as fh:
        tree = ast.parse(fh.read(), filename=script)
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "pymongraph_spark" and not _module_path(a.name):
                    missing.append(a.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module.split(".")[0] == "pymongraph_spark"
        ):
            path = _module_path(node.module)
            if path is None:
                missing.append(node.module)
                continue
            defined = _top_level_names(path)
            for a in node.names:
                if a.name == "*" or a.name in defined:
                    continue
                if _module_path(f"{node.module}.{a.name}"):
                    continue  # submodule import
                missing.append(f"{node.module}.{a.name}")
    assert not missing, f"{os.path.relpath(script, REPO)}: unresolved {missing}"
