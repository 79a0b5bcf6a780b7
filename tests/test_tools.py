"""Every script in tools/ imports as a module, without running its main
and without starting a Spark session, and every attribute it reads from
an engine, perfbench or sibling module exists there. A rename in
bd_spark or perfbench (say ``compiler.choose_tier`` or
``layers.Tracer``) then fails here rather than in the next profiling
run."""

from __future__ import annotations

import ast
import importlib.util
import os
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))


def _load(path: str) -> types.ModuleType:
    name = "tools_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    sys.path.insert(0, TOOLS)  # as for a script: its own directory first
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _ours(mod) -> bool:
    return os.path.abspath(getattr(mod, "__file__", None) or "").startswith(ROOT + os.sep)


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_imports_and_its_names_exist(script):
    from pyspark import SparkContext

    path = os.path.join(TOOLS, script)
    before = SparkContext._active_spark_context
    mod = _load(path)
    assert SparkContext._active_spark_context is before, f"{script} started Spark on import"
    assert callable(getattr(mod, "main", None)), f"{script} has no main()"

    with open(path) as fh:
        tree = ast.parse(fh.read())
    missing = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            owner = getattr(mod, node.value.id, None)
            if isinstance(owner, types.ModuleType) and _ours(owner) \
                    and not hasattr(owner, node.attr):
                missing.add(f"{node.value.id}.{node.attr}")
    assert not missing, f"{script} reads names its modules lack: {sorted(missing)}"
