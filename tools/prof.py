"""Per-row layer profile of registry queries.

Usage: python tools/prof.py [-n REPS] NAME [NAME ...]

Runs each named registry row (gate, EXTRA or bench-only) once cold and
then REPS times warm (default 3), in the order named, on one Spark
session over $SPARK_GRAFT_SF_DIR (default: bench.py's sf0.1 data).
Every run clears the cache, constructs a fresh
DataFrame and forces it with ``bench._force``, inside perfbench's
``layers.Tracer``: the ``queries.construct`` and ``exec`` spans, Py4J
counts, job groups and Catalyst phases, with the event log turned on
through ``host.run_environment`` (cores and driver heap from the host,
every temporary and spill file in a run directory removed at exit).

After the session stops, ``layers.summarize`` folds the event log into
per-run records, and one JSON line per row is printed: the cold wall
time, the median warm wall time over REPS runs, the jq tier
(``compiler.last_tier()``, null when the row compiled no jq program),
and the layer fields below for the cold run and as medians over the
warm runs. A row that raises prints its error instead and the sweep
goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import host  # noqa: E402
import layers  # noqa: E402
from bench import _force  # noqa: E402
from bd_spark.jsonq import compiler  # noqa: E402
from bd_spark.queries import registry  # noqa: E402
from bd_spark.session import get_spark  # noqa: E402

# the per-run layer fields of a record, named as layers.summarize names them
FIELDS = (
    "queries.construct_s", "queries.construct_py4j_calls", "queries.construct_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.max_stage_skew",
    "interp.python_s", "interp.worker_start_s",
    "catalog.rebalance_calls", "operators.persist_calls", "operators.repartition_calls",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("-n", dest="reps", type=int, default=3,
                   help="warm runs per row after the cold one (default 3)")
    p.add_argument("names", nargs="+", metavar="NAME", help="registry row name")
    args = p.parse_args(argv)
    if args.reps < 0:
        p.error("-n must be >= 0")
    return args


def profile(spark, tracer, fn, name: str, sf_dir: str, reps: int) -> dict[str, float]:
    """Run one row cold and then ``reps`` times warm under the tracer;
    returns the wall seconds per op key ``NAME#RUN``."""
    walls = {}
    for i in range(1 + reps):
        key = f"{name}#{i}"
        spark.catalog.clearCache()
        tracer.op = key
        try:
            t0 = time.perf_counter()
            df = tracer.span("queries.construct", fn, spark, sf_dir)
            forced = tracer.span("exec", _force, df)
            walls[key] = time.perf_counter() - t0
            tracer.catalyst(forced)
        finally:
            tracer.op = None
    return walls


def record(name: str, reps: int, records: dict, tier: str | None) -> dict:
    """One row's output line from its per-run layer records."""
    runs = [records[f"{name}#{i}"] for i in range(1 + reps)]
    cold, warm = runs[0], runs[1:]
    # last_tier() outlives the row: it is the row's own only when the
    # row compiled a jq program
    if not any(r.get("jsonq.tier_interp", 0) + r.get("jsonq.tier_staged", 0) for r in runs):
        tier = None
    out = {"name": name, "tier": tier, "reps": reps,
           "cold_s": round(cold["wall_s"], 3),
           "warm_s": round(statistics.median(r["wall_s"] for r in warm), 3) if warm else None,
           "cold": {k: _num(cold.get(k, 0.0)) for k in FIELDS}}
    if warm:
        out["warm"] = {k: _num(statistics.median(r.get(k, 0.0) for r in warm))
                       for k in FIELDS}
    return out


def _num(v: float):
    return int(v) if float(v).is_integer() else round(v, 4)


def main(argv=None) -> int:
    args = parse_args(argv)
    qs = {**registry.all_queries(), **registry.extra_queries(),
          **registry.bench_only_queries()}
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"prof: unknown registry row(s): {', '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    run_dir = tempfile.mkdtemp(prefix="prof-")
    event_dir = os.path.join(run_dir, "eventlog")
    os.environ.update(host.run_environment(ROOT, run_dir, event_dir))
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        return _run(args, qs, sf_dir, event_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, qs, sf_dir: str, event_dir: str) -> int:
    spark = get_spark("prof")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    tracer = layers.Tracer(spark)
    tracer.install()
    walls, tiers, errors = {}, {}, {}
    try:
        for name in args.names:
            try:
                walls.update(profile(spark, tracer, qs[name], name, sf_dir, args.reps))
            except Exception as e:  # noqa: BLE001 — one failed row ends only its sweep
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                continue
            tiers[name] = compiler.last_tier()
            print(f"# {name}: {walls[f'{name}#0']:.2f} s cold", file=sys.stderr, flush=True)
    finally:
        tracer.uninstall()
        spark.stop()
    _totals, records = layers.summarize(
        tracer, tracer.attribute(event_dir), walls, dict.fromkeys(walls, 1.0))
    failed = 0
    for name in args.names:
        if name in errors:
            failed += 1
            print(json.dumps({"name": name, "error": errors[name]}))
            continue
        print(json.dumps(record(name, args.reps, records, tiers[name])))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
