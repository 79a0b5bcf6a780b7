"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a FINAL
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "file": "bench_results.json"}.

Driver-contract constraints (VERDICT r5 wrong #2 — the consuming
driver keeps only the LAST ~2000 chars of stdout and parses the last
line found there):
- the final line is kept compact (gate-query warm timings only,
  2-decimal rounding, compact separators) so it always fits the tail;
- EXTRA/bench-only warm timings and all cold timings are printed as
  separate, earlier stdout lines;
- the COMPLETE record (warm + cold for every query, 3-decimal) is
  also written to ``bench_results.json`` at the repo root, which is
  committed per round — nothing is lost to tail truncation again.

Evaluation-forcing action (VERDICT r5 wrong #3): ``df.count()`` lets
Catalyst prune unreferenced projections, so pure-projection queries
were timed as parquet scans. Each query now runs through ``_force``:
one aggregate over a string rendering of EVERY output column, which
provably evaluates the whole result (tests/test_plans.py asserts the
optimized plan keeps all columns).

Noise isolation (VERDICT r3 #5): each query runs
$SPARK_GRAFT_BENCH_RUNS times (default 2) and reports the per-query
MINIMUM. Cold visibility (VERDICT r4 wrong #3a): each query's FIRST
run is recorded separately as its cold time. No timing is checked
against fixed bands: a record is compared only with records from
interleaved runs on the same host at the same core count, and
``tools/prof.py`` splits any one row into its layers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import queries  # noqa: E402
from bd_spark.queries.registry import bench_only_queries, extra_queries  # noqa: E402
from bd_spark.session import get_spark  # noqa: E402


def _force(df: DataFrame) -> DataFrame:
    """Evaluate EVERY output column of df with one aggregate action.

    cast-to-string covers all output types the queries produce
    (numeric, string, array, struct, map, variant-as-json, binary);
    xxhash64 over the cast columns reduces each row to one long
    in-place — no giant concatenated string is ever assembled (the
    old max(length(concat_ws(...))) sink taxed every long-string row:
    VERDICT r7 ask #2 / r8 ask #4) — and max reduces to a single
    driver-side long, so nothing but the aggregate crosses the JVM
    boundary. Referencing every column defeats Catalyst's column
    pruning — this is the "materialize the result" cost a user
    actually pays. Returns the executed aggregate frame, whose
    QueryExecution holds the action's Catalyst phase times.
    """
    cols = [F.col(c).cast("string") for c in df.columns]
    forced = df.select(F.max(F.xxhash64(*cols)).alias("__force"))
    forced.collect()
    return forced


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    load_start = os.getloadavg()[0]
    spark = get_spark("bd_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # gate queries plus the pytest-gated EXTRA tranche plus the
    # bench-only sketch queries — timing continuity for every
    # implemented query across rounds
    gate = dict(queries())
    qs = dict(gate)
    qs.update(extra_queries())
    qs.update(bench_only_queries())
    # warm up the JVM + parquet footer caches with a trivial action
    next(iter(qs.values()))(spark, sf_dir).limit(1).collect()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, fn in qs.items():
        # each rep builds FRESH DataFrames, so persist() calls inside
        # operators (ngram/curate/incremental dedup) leak cached RDDs
        # across queries — 113 queries x 2 reps of leaked caches put
        # GC pressure on every later row (late jq rows measured ~1.6x
        # their isolated-session floors). Cleared before EVERY rep
        # (r9 ADVICE): rep 2 of a persist-using query otherwise hits
        # CacheManager plan-matching and reuses rep 1's materialized
        # cache, so its "warm" measured cached reads, not the query.
        # (Persist-using warm rows step UP versus r1-r9 records for
        # this reason — a measurement-semantics change, not a
        # regression; see SCALE.md. On-disk state reuse — e.g.
        # pipe_dedup_incremental_persisted's committed index — is the
        # operator's real contract and is deliberately kept.)
        best = None
        for i in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                _force(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                if i == 0:
                    cold[name] = round(dt, 3)
                best = dt if best is None or dt < best else best
            except Exception as e:  # noqa: BLE001
                best = -1.0
                cold[name] = -1.0
                print(f"# bench error {name}: {e}", file=sys.stderr)
                break
        timings[name] = round(best, 3)
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "sf": sf,
        "runs": runs,
        "load_start": round(load_start, 2),
        "load_end": round(os.getloadavg()[0], 2),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_results.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    compact = {"separators": (",", ":")}
    # earlier lines: cold + non-gate warm (informational; may be cut
    # by the driver's tail buffer — the file above is authoritative)
    print(json.dumps({"queries_cold": cold}, **compact))
    extra_warm = {n: round(t, 2) for n, t in timings.items() if n not in gate}
    print(json.dumps({"queries_extra": extra_warm}, **compact))
    # LAST line: the driver-parsed record — gate warm timings only,
    # 2-decimal, compact — must stay well under the ~2000-char tail
    last = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {n: round(timings[n], 2) for n in gate},
        "sf": sf,
        "file": "bench_results.json",
    }
    line = json.dumps(last, **compact)
    if len(line) > 1900:  # hard driver-contract guard
        line = json.dumps({
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": {},
            "sf": sf,
            "file": "bench_results.json",
        }, **compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
