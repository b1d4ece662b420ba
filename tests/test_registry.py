"""Registry order: the driver window leads no matter which plan module a
process imports first, and ``apply_window`` rejects a malformed window.
Plan layout: one module per query family, and no plan module reaches into
another's private names."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

import pytest

from job_datapipeline_spark.plans.registry import DRIVER_WINDOW, REGISTRY, apply_window

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PLANS = os.path.join(_REPO, "job_datapipeline_spark", "plans")


def test_sibling_first_import_sees_window_order():
    # A Python worker unpickling a helper imports its plan module first.
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "import job_datapipeline_spark.plans.events\n"
        "from job_datapipeline_spark.plans import queries, registry\n"
        "print(json.dumps([list(queries.REGISTRY), list(registry.DRIVER_WINDOW)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    ).stdout
    names, window = json.loads(out.strip().splitlines()[-1])
    assert len(names) == 363
    assert names[:50] == window


@pytest.mark.parametrize(
    "window, message",
    [
        (DRIVER_WINDOW[:49] + ("no_such_query",), "unknown queries"),
        (DRIVER_WINDOW[:49] + (DRIVER_WINDOW[0],), "duplicate names"),
        (DRIVER_WINDOW[:49], "all 50 slots"),
    ],
    ids=["unregistered", "duplicate", "49_names"],
)
def test_apply_window_rejects_malformed_window(window, message):
    before = list(REGISTRY)
    with pytest.raises(AssertionError, match=message):
        apply_window(window)
    assert list(REGISTRY) == before


def test_no_plan_module_is_named_by_round():
    names = [os.path.basename(p)[:-3] for p in glob.glob(os.path.join(_PLANS, "*.py"))]
    assert "queries" in names
    by_round = [n for n in names if re.fullmatch(r"llm_round.*|r\d+_.*", n)]
    assert by_round == []


def test_no_private_imports_between_plan_modules():
    plan_modules = {
        os.path.basename(p)[:-3] for p in glob.glob(os.path.join(_PLANS, "*.py"))
    }
    assert "queries" in plan_modules
    private = []
    for path in sorted(glob.glob(os.path.join(_PLANS, "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 1
                and node.module in plan_modules
            ):
                private += [
                    f"{os.path.basename(path)}: from .{node.module} import {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert private == []


def _public_names(path: str) -> set[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return {n for n in names if not n.startswith("_")}


def test_no_plan_module_redefines_a_shared_helper():
    """Plan code calls the ``operators/`` and ``functions/`` helpers rather
    than redefining them: no plan module defines, at any depth, by ``def``
    or by assigning a lambda, a name those packages export."""
    pkg = os.path.dirname(_PLANS)
    exported = set()
    for sub in ("operators", "functions"):
        for path in glob.glob(os.path.join(pkg, sub, "*.py")):
            exported |= _public_names(path)
    assert {"dot", "l2sq_micro", "pq_subspace_struct"} <= exported
    redefined = []
    for path in sorted(glob.glob(os.path.join(_PLANS, "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defined = [node.name]
            elif isinstance(node, ast.Assign) and isinstance(node.value, ast.Lambda):
                defined = [t.id for t in node.targets if isinstance(t, ast.Name)]
            else:
                continue
            redefined += [
                f"{os.path.basename(path)}:{node.lineno} {name}"
                for name in defined
                if name in exported
            ]
    assert redefined == []


def _imports_with_scope(tree: ast.AST):
    """Each import statement with the function (or module) whose names it
    binds."""

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                yield child, scope
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
            yield from walk(child, child if inner else scope)

    yield from walk(tree, tree)


def test_no_plan_module_imports_a_name_it_never_reads():
    """An import binds a name in its function (or the module); some code in
    that scope must read it. A re-export says so with ``# noqa: F401``."""
    unread = []
    for path in sorted(glob.glob(os.path.join(_PLANS, "*.py"))):
        with open(path) as fh:
            src = fh.read()
        lines = src.splitlines()
        for node, scope in _imports_with_scope(ast.parse(src)):
            if getattr(node, "module", None) == "__future__" or "noqa: F401" in lines[node.lineno - 1]:
                continue
            read = {
                n.id for n in ast.walk(scope) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            unread += [
                f"{os.path.basename(path)}:{node.lineno} {a.asname or a.name}"
                for a in node.names
                if (a.asname or a.name).split(".")[0] not in read
            ]
    assert unread == []
