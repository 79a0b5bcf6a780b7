from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bd_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("bd_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _plan_node_names(df) -> list[str]:
    """nodeName() of every node in a DataFrame's optimized logical
    plan, walked through children() (ExtractPythonUDFs runs in the
    optimizer, so a Python UDF shows up here as its eval node)."""
    names = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


@pytest.fixture(scope="session")
def python_eval_nodes():
    """Function from a DataFrame to the Python-UDF eval nodes
    (ArrowEvalPython / BatchEvalPython) in its optimized plan."""

    def find(df) -> list[str]:
        return [
            n for n in _plan_node_names(df)
            if n in ("ArrowEvalPython", "BatchEvalPython")
        ]

    return find
