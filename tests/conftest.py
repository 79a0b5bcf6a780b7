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
def plan_node_names():
    """Function from a DataFrame to the nodeName() of every node in
    its optimized logical plan."""
    return _plan_node_names


def _physical_nodes(node):
    """Pre-order nodes of a JVM physical plan, walked through
    AdaptiveSparkPlanExec (its current plan) and query-stage
    wrappers, which are not operators of their own."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _physical_nodes(node.plan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _physical_nodes(kids.apply(i))


def _shuffle_fact(node) -> dict:
    """keys (column names; expressions as SQL), partitioning class,
    origin (ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ...) and output
    column names of one ShuffleExchangeExec."""
    part = node.outputPartitioning()
    keys = []
    if part.getClass().getSimpleName() == "HashPartitioning":
        exprs = part.expressions()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            is_attr = e.getClass().getSimpleName() == "AttributeReference"
            keys.append(e.name() if is_attr else e.sql())
    out = node.output()
    return {
        "partitioning": part.getClass().getSimpleName(),
        "keys": keys,
        "origin": node.shuffleOrigin().toString(),
        "output": [out.apply(i).name() for i in range(out.size())],
    }


def _shuffles_under(node) -> list[dict]:
    return [
        _shuffle_fact(n) for n in _physical_nodes(node)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]


def _plan_facts(plan) -> dict:
    """Facts of a physical plan: a DataFrame (its executedPlan) or a
    JVM SparkPlan (e.g. a streaming query's lastExecution plan).
      shuffles — one dict per ShuffleExchangeExec (_shuffle_fact);
      joins    — one dict per join node: node class, join type, build
                 side (None when the node has none) and `sides`, the
                 shuffles under each child (left, right)."""
    from pyspark.sql import DataFrame

    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    joins = []
    for n in _physical_nodes(plan):
        cls = n.getClass().getSimpleName()
        if cls == "CartesianProductExec":
            jt = "Cross"
        elif cls.endswith("JoinExec"):
            jt = n.joinType().toString()
        else:
            continue
        has_build = "Broadcast" in cls or "ShuffledHash" in cls
        kids = n.children()
        joins.append({
            "node": cls,
            "type": jt,
            "build": n.buildSide().toString() if has_build else None,
            "sides": tuple(
                _shuffles_under(kids.apply(i)) for i in range(kids.size())
            ),
        })
    return {"shuffles": _shuffles_under(plan), "joins": joins}


@pytest.fixture(scope="session")
def plan_facts():
    """Function from a DataFrame (or JVM physical plan) to its
    physical-plan facts (_plan_facts)."""
    return _plan_facts


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
