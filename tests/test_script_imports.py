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


def _find_def(module: str, name: str, hops: int = 3):
    """The FunctionDef that ``from module import name`` binds, following
    re-exports through the package; None for classes, constants, or
    anything outside pymongraph_spark."""
    path = _module_path(module)
    if path is None or hops == 0:
        return None
    with open(path) as fh:
        body = ast.parse(fh.read()).body
    stack = list(body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == name:
            return node
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module.split(".")[0] == "pymongraph_spark"
        ):
            for a in node.names:
                if (a.asname or a.name) == name:
                    return _find_def(node.module, a.name, hops - 1)
        if isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody"):
                stack.extend(getattr(node, field, []))
    return None


def _accepts(fn: ast.FunctionDef, keyword: str) -> bool:
    a = fn.args
    return a.kwarg is not None or keyword in {
        p.arg for p in a.posonlyargs + a.args + a.kwonlyargs
    }


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_script_keywords_match_signatures(script):
    """A keyword a script passes to a package function must be one of its
    parameters (or land in its **kwargs): scripts run only by hand, so a
    removed parameter would otherwise surface as a TypeError much later."""
    with open(script) as fh:
        tree = ast.parse(fh.read(), filename=script)
    funcs: dict[str, tuple[str, str]] = {}  # local name -> (module, name)
    modules: dict[str, str] = {}  # local alias -> module
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "pymongraph_spark" and a.asname:
                    modules[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module.split(".")[0] == "pymongraph_spark"
        ):
            for a in node.names:
                if _module_path(f"{node.module}.{a.name}"):
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
                else:
                    funcs[a.asname or a.name] = (node.module, a.name)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in funcs:
            target = funcs[f.id]
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and (
            f.value.id in modules
        ):
            target = (modules[f.value.id], f.attr)
        else:
            continue
        fn = _find_def(*target)
        if fn is None:
            continue
        for kw in node.keywords:
            if kw.arg is not None and not _accepts(fn, kw.arg):
                bad.append(f"line {node.lineno}: {'.'.join(target)}({kw.arg}=)")
    assert not bad, f"{os.path.relpath(script, REPO)}: unknown keywords {bad}"
