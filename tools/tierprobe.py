"""Compare staged vs interp tier warm exec for registry jq queries.

Usage: python tools/tierprobe.py [-n RUNS] [-t TIER,TIER] name [...]
       python tools/tierprobe.py [-n RUNS] [-t TIER,TIER] -p 'PROGRAM' [...]

For each query name (or raw jq PROGRAM run over the standard
documents stream), times min-warm exec (fresh DataFrame per rep,
clearCache per rep, build excluded) under two tier overrides and
compares row counts. TIER is staged|interp|auto (auto = cost model).
A target whose program compiler.choose_tier will not stage (InterpOnly,
or a construct with no staged lane) is refused under the staged tier
with a one-line message naming the reason. A target whose build or
run raises prints one line naming it and the error, and the sweep goes
on to the next target.
Flags may appear in any order and are validated (r11 ADVICE #2: the
old positional parse silently treated '-t' as a query name and blew
up on a single tier). Diagnostic only — feeds the compile_query
cost-router evidence (SCALE.md r11/r12)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _force  # noqa: E402
from bd_spark.jsonq import compiler, parser  # noqa: E402
from bd_spark.queries.registry import all_queries, extra_queries  # noqa: E402
from bd_spark.session import get_spark  # noqa: E402
from routercount import extract_programs  # noqa: E402

_USAGE = (
    "usage: tierprobe.py [-n RUNS] [-t TIER,TIER] "
    "(name | -p 'PROGRAM') [...]\n  TIER: staged|interp|auto; "
    "exactly two, comma-separated"
)


def _parse_args(argv: list[str]):
    """(runs, tiers, targets) with flags accepted in any order.
    targets are ('query', name) or ('program', text)."""
    runs = 3
    tiers: list[str | None] = [None, "interp"]
    targets: list[tuple[str, str]] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "-n":
            if i + 1 >= len(argv):
                sys.exit(_USAGE)
            runs = int(argv[i + 1])
            i += 2
        elif a == "-t":
            if i + 1 >= len(argv):
                sys.exit(_USAGE)
            parts = argv[i + 1].split(",")
            if len(parts) != 2 or any(
                p not in ("staged", "interp", "auto") for p in parts
            ):
                sys.exit(_USAGE)
            tiers = [None if t == "auto" else t for t in parts]
            i += 2
        elif a == "-p":
            if i + 1 >= len(argv):
                sys.exit(_USAGE)
            targets.append(("program", argv[i + 1]))
            i += 2
        elif a.startswith("-"):
            sys.exit(_USAGE)
        else:
            targets.append(("query", a))
            i += 1
    if not targets:
        sys.exit(_USAGE)
    return runs, tiers, targets


def _staged_refusal(programs: list[str]) -> str | None:
    """choose_tier's reason when any of `programs` runs on the interp
    tier under the staged pin, else None."""
    for prog in programs:
        tier, reason = compiler.choose_tier(parser.parse(prog), "staged")
        if tier != "staged":
            return reason
    return None


def _time_tier(fn, spark, sf_dir: str, tier: str | None, runs: int):
    """(build s, first exec s, min warm exec s, rows) of one target
    under one tier pin."""
    compiler.TIER_OVERRIDE = tier
    try:
        times = []
        build = 0.0
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _force(df)
            times.append(time.perf_counter() - t1)
            build = t1 - t0
        rows = fn(spark, sf_dir).count()
        return build, times[0], min(times[1:] or times), rows
    finally:
        compiler.TIER_OVERRIDE = None


def main() -> None:
    runs, tiers, targets = _parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("tierprobe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**all_queries(), **extra_queries()}
    registry_programs = extract_programs(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
            __file__))), "bd_spark", "queries", "jsonq_queries.py")
    )
    print(f"load={os.getloadavg()[0]:.2f} sf={sf_dir} runs={runs}")

    def program_fn(prog: str):
        """Raw program over the standard documents stream (the shape
        every registry jq row uses), so synthetic calibration probes
        measure on the same data the registry rows do."""
        from pyspark.sql import functions as F

        from bd_spark.catalog import table
        from bd_spark.jsonq.runtime import JsonQ

        def fn(spark, sf_dir):
            docs = table(spark, "documents", sf_dir)
            jq = JsonQ(spark)
            stream = jq.stream_from_table(
                docs.select("doc_id", "n_chars", "lang", "source")
            )
            out = jq.run(prog, stream, ordered=False)
            return out.select(F.to_json("v").alias("j"))

        return fn

    for kind, target in targets:
        if kind == "query":
            if target not in qs:
                print(f"{target}: unknown query name", file=sys.stderr)
                continue
            fn = qs[target]
            label = target
            refusal = _staged_refusal(registry_programs.get(target, []))
        else:
            fn = program_fn(target)
            label = target if len(target) <= 18 else target[:15] + "..."
            refusal = _staged_refusal([target])
        if "staged" in tiers and refusal is not None:
            print(f"{label}: not staged ({refusal}), skipped")
            continue
        row = {}
        try:
            for tier in tiers:
                row[tier or "auto"] = _time_tier(fn, spark, sf_dir, tier, runs)
        except Exception as e:  # noqa: BLE001 — one target, not the sweep
            msg = (str(e).strip().splitlines() or [""])[0][:120]
            print(
                f"{label}: failed under {tier or 'auto'} "
                f"({type(e).__name__}: {msg})"
            )
            continue
        la, lb = (t or "auto" for t in tiers)
        a, b = row[la], row[lb]
        flag = "" if a[3] == b[3] else "  ROWS-MISMATCH"
        print(
            f"{label:18s} {la}: build={a[0]:5.2f} warm={a[2]:5.2f} | "
            f"{lb}: build={b[0]:5.2f} warm={b[2]:5.2f} "
            f"rows={a[3]}/{b[3]} load={os.getloadavg()[0]:.2f}{flag}"
        )


if __name__ == "__main__":
    main()
