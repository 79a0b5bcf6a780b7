"""Print the compile_query cost-router signals for every registry jq
program, without a Spark session (pure-Python parse + AST walk).

Usage: python tools/routercount.py

Extracts each `jq.run('<program>', ...)` literal from
bd_spark/queries/jsonq_queries.py (one per registry jq row), parses
it with the production parser, and prints its scalar-dispatch count
(the one cost signal choose_tier has) plus compiler.choose_tier's
(tier, reason) — the choice compile_query makes for the program.
Diagnostic only — this is the calibration audit trail for the router
threshold (ADVICE r11 #1/#3: keep the counts auditable)."""

from __future__ import annotations

import ast as pyast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bd_spark.jsonq import ast as jast  # noqa: E402
from bd_spark.jsonq import compiler, parser  # noqa: E402


def extract_programs(path: str) -> dict[str, list[str]]:
    """{query_fn_name: [jq program literal, ...]} from jq.run calls."""
    with open(path) as fh:
        tree = pyast.parse(fh.read())
    out: dict[str, list[str]] = {}
    for fn in tree.body:
        if not isinstance(fn, pyast.FunctionDef):
            continue
        progs: list[str] = []
        for node in pyast.walk(fn):
            if (
                isinstance(node, pyast.Call)
                and isinstance(node.func, pyast.Attribute)
                and node.func.attr in ("run", "run_texts", "run_values")
                and node.args
                and isinstance(node.args[0], pyast.Constant)
                and isinstance(node.args[0].value, str)
            ):
                progs.append(node.args[0].value)
        if progs:
            out[fn.name] = progs
    return out


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(here, "bd_spark", "queries", "jsonq_queries.py")
    for name, progs in sorted(extract_programs(src).items()):
        for i, prog in enumerate(progs):
            node = parser.parse(prog)
            inner = node.expr if isinstance(node, jast.InterpOnly) else node
            scalars = compiler._scalar_dispatch_count(inner)
            suffix = f"[{i}]" if len(progs) > 1 else ""
            tier, reason = compiler.choose_tier(node)
            print(f"{name + suffix:24s} scalars={scalars:3d} -> {tier} ({reason})")


if __name__ == "__main__":
    main()
