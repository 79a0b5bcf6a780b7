"""Layered, oracle-checked benchmark of the bd_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads: relational, ingest (README.md). A run reads the testdata
copied under ``perfbench/data`` (``ingest`` draws its batches from it by
``--seed``), starts one Spark session, runs its operations in rounds, checks every
answer against a computation made apart from the engine, and prints each
metric by name. The last line of standard output is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics, or with ``--trace 1`` the per-layer ones (layers.py).
The full run record is written to ``.perfbench/records/``.

Rounds: ``relational`` runs a cold round and then warm rounds until
``--seconds`` of them, and at least WARM_ROUNDS, have passed; the first
warm round collects and checks the answers. ``ingest`` runs one fixed
pass of batches; each batch is a round, the first is the cold one (the
first commit, index fold and query) and the rest are warm. ``ingest``
checks outside every op's wall time and runs the landing-directory
re-queries of a batch after its wall and CPU sums are read (README.md).

The end-to-end metrics are ``setup_s`` and CPU seconds of the process
tree: ``cold_cpu_s`` of the cold round, ``cpu_s`` of the first
WARM_ROUNDS warm rounds (``relational``) or of every warm batch
(``ingest``). The wall-clock sums ``cold_s`` and ``warm_s`` are kept in
the record and reported by the traced run: on a shared host their
run-to-run spread follows the host's CPU steal, which no number of
rounds inside one run averages out (README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
MAX_ROUNDS = 16
# relational: the warm rounds every run makes, and the ones cpu_s sums.
# The JVM is still compiling through them (round CPU falls from about
# 19 s to 6 s over eight rounds) and how far it gets in each round
# follows the host's load; the sum over a fixed set of rounds holds
# steadier than any one round of it
WARM_ROUNDS = 4
# the warm round that collects and checks the answers; warm_s (a wall
# sum, in the record) takes its per-op medians over the rounds after it
CHECK_ROUND = 1

sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
import inputs  # noqa: E402
import workloads as W  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- session

def start_session():
    """get_spark through the first trivial action; returns (spark, s)."""
    from bd_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> list[int]:
    """Stop Spark, its JVM and the Python workers and wait for all of
    them; returns the pids that had to be killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = host.descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to kill
            proc.kill()
            proc.wait()
    left = host.wait_gone(tree, 20)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return left


def force(df):
    """Evaluate every output column with one aggregate action (the
    forcing action of bench.py, copied so that a change to bench.py does
    not change the benchmark); returns the executed DataFrame."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`").cast("string") for c in df.columns]
    forced = df.select(F.max(F.xxhash64(*cols)).alias("__force"))
    forced.collect()
    return forced


# ------------------------------------------------------------------ rounds

class Rounds:
    """Per-round op wall times and CPU, and attempted/failed counts.

    ``expected_fail`` holds the ops that fail on every run because of
    the plan-cache fault README.md describes."""

    def __init__(self):
        self.walls: list[dict[str, float]] = []   # op name -> wall s
        self.cpu: list[float] = []
        self.attempted = 0
        self.failed: dict[str, int] = {}          # op key -> failures
        self.expected_fail: set[str] = set()
        self.errors: list[str] = []

    def fail(self, key: str, why: str) -> None:
        self.failed[key] = self.failed.get(key, 0) + 1
        if len(self.errors) < 20:
            self.errors.append(f"{key}: {why}")

    def run(self, one_round, n: int | None, seconds: float, after_round=None) -> None:
        """Run ``n`` rounds (``cpu_s`` sums every warm one), or (``n``
        None) the cold round and then warm rounds until ``seconds`` of
        them, and at least WARM_ROUNDS, have passed (``cpu_s`` sums the
        first WARM_ROUNDS). Rounds are whole, so every run attempts the
        same operations a whole number of times. ``after_round(r)`` runs
        ops that belong to round ``r`` but to none of its wall or CPU
        sums."""
        self.cpu_rounds = n - 1 if n else WARM_ROUNDS
        self.skip = 0 if n else CHECK_ROUND
        warm_start = None
        for r in range(n or MAX_ROUNDS):
            if r == 1:
                warm_start = time.perf_counter()
            cpu0 = host.tree_cpu_seconds()
            self.walls.append(one_round(r))
            self.cpu.append(host.tree_cpu_seconds() - cpu0)
            if after_round:
                after_round(r)
            if (n is None and r >= WARM_ROUNDS
                    and time.perf_counter() - warm_start >= seconds):
                break

    def e2e(self, setup_s: float) -> dict[str, float]:
        """``setup_s``, the CPU metrics and the wall sums of the record:
        the cold round, and per op the median of the warm rounds after
        the check round."""
        cold, warm = self.walls[0], self.walls[1 + self.skip:]
        keys = sorted(set().union(*warm))
        return {
            "setup_s": setup_s,
            "cold_cpu_s": self.cpu[0],
            "cpu_s": sum(self.cpu[1:1 + self.cpu_rounds]),
            "cold_s": sum(cold.values()),
            "warm_s": sum(statistics.median([w[k] for w in warm if k in w]) for k in keys),
        }


class RowRound:
    """One round over registry rows: construct and force each. The
    check round collects each row instead of forcing it and compares the
    rows with the DuckDB oracle."""

    def __init__(self, spark, rows, sf_dir, oracle, rounds, tracer):
        self.spark, self.rows, self.sf_dir = spark, rows, sf_dir
        self.oracle, self.rounds, self.tracer = oracle, rounds, tracer
        self.bad_rows: dict[str, str] = {}

    def __call__(self, r: int) -> dict[str, float]:
        tr = self.tracer
        walls = {}
        for name, fn in self.rows.items():
            key = f"r{r}:{name}"
            self.rounds.attempted += 1
            self.spark.catalog.clearCache()
            if tr:
                tr.op = key
            try:
                t0 = time.perf_counter()
                checking = r == CHECK_ROUND
                action = (lambda d: d.collect()) if checking else force
                if tr:
                    df = tr.span("queries.construct", fn, self.spark, self.sf_dir)
                    out = tr.span("exec", action, df)
                else:
                    df = fn(self.spark, self.sf_dir)
                    out = action(df)
                walls[name] = time.perf_counter() - t0
                if tr:
                    tr.catalyst(df if checking else out)
                    tr.op = None
                if checking:
                    self._check(name, df, out)
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                self.rounds.fail(key, f"{type(e).__name__}: {e}"[:300])
            finally:
                if tr:
                    tr.op = None
            if name in self.bad_rows:
                self.rounds.fail(key, self.bad_rows[name])
        return walls

    def _check(self, name: str, df, rows) -> None:
        """A wrong answer fails the row's op in every round, the earlier
        ones too, so the failed share does not depend on the number of
        rounds."""
        try:
            why = self.oracle.check(name, df.columns, [tuple(x) for x in rows])
        except Exception as e:  # noqa: BLE001
            why = f"check raised {type(e).__name__}: {e}"[:300]
        if why:
            self.bad_rows[name] = why
            for r in range(CHECK_ROUND):
                self.rounds.fail(f"r{r}:{name}", why)


class IngestBatch:
    """The ingest loop, one batch per call, over one store, dedup index
    and landing directory (README.md lists the steps). ``landing_queries(b)``
    runs the batch's landing-directory re-queries."""

    def __init__(self, spark, batches, run_dir, rounds, tracer):
        from oracle import expected_dedup

        from bd_spark.jsonq.runtime import JsonQ
        from bd_spark.operators.dedup import DedupIndexStore
        from bd_spark.sources.store import VersionedStore

        self.spark, self.batches, self.rounds = spark, batches, rounds
        self.tracer = tracer
        self.base = os.path.join(run_dir, "ingest")
        self.landing = os.path.join(self.base, "landing")
        os.makedirs(self.landing)
        self.store = VersionedStore(spark, os.path.join(self.base, "store"))
        self.index = DedupIndexStore(spark, os.path.join(self.base, "index"))
        self.jq = JsonQ(spark)
        self.want_dedup = expected_dedup(batches)
        self.want_query = []
        seen: list[dict] = []
        for batch in batches:
            seen = seen + batch
            self.want_query.append({p: W.expected_program_output(p, seen)
                                    for p in W.INGEST_PROGRAMS})
        self.landing_s: dict[str, float] = {}  # op key -> wall s
        self.check_query: dict[str, object] = {}  # program -> this batch's check
        self.bytes_written: list[int] = []
        self.batch_bytes: list[int] = []

    def _op(self, key, build, collect, check):
        """Run one op: build (construction), collect (forcing), check.
        Returns its wall seconds, or None when it failed."""
        tr = self.tracer
        self.rounds.attempted += 1
        if tr:
            tr.op = key
        try:
            t0 = time.perf_counter()
            if tr:
                df = tr.span("queries.construct", build) if build else None
                got = tr.span("exec", collect, df)
            else:
                got = collect(build() if build else None)
            wall = time.perf_counter() - t0
            why = check(got)
            if why:
                self.rounds.fail(key, why)
            return wall
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            self.rounds.fail(key, f"{type(e).__name__}: {e}"[:300])
            return None
        finally:
            if tr:
                tr.op = None

    def _dir_bytes(self) -> int:
        total = 0
        for sub in ("store", "index"):
            for d, _dirs, files in os.walk(os.path.join(self.base, sub)):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def __call__(self, b: int) -> dict[str, float]:
        from pyspark.sql import functions as F

        batch, walls = self.batches[b], {}
        cols = ("doc_id", "text", "lang", "source", "n_chars")
        path = os.path.join(self.landing, f"batch-{b:04d}.jsonl")
        with open(path, "w") as fh:
            for doc in batch:
                fh.write(json.dumps({c: doc[c] for c in cols}) + "\n")
        self.batch_bytes.append(os.path.getsize(path))
        batch_df = self.spark.createDataFrame(
            [tuple(d[c] for c in cols) for d in batch],
            "doc_id long, text string, lang string, source string, n_chars long")

        def with_bucket(df):
            return df.withColumn("len_bucket", F.floor(F.col("n_chars") / 100))

        def timed(step, build, collect, check=lambda _: None):
            w = self._op(f"r{b}:{step}", build, collect, check)
            if w is not None:
                walls[step] = w

        before = self._dir_bytes()
        timed("commit_store", None, lambda _: self.store.write(batch_df, mode="append"))
        if b > 0:
            want = self.want_dedup[b]

            def check_dedup(rows):
                got = {x["id"]: (bool(x["dup_exact"]), x["near_src"] is not None)
                       for x in rows}
                bad = sorted(k for k in want if got.get(k) != want[k])
                if bad or len(got) != len(want):
                    return f"dedup flags differ for ids {bad[:5]}"
                return None

            timed("dedup",
                  lambda: self.index.dedup_batch(with_bucket(batch_df), "doc_id", "text"),
                  lambda df: df.collect(), check_dedup)
        timed("commit_index", None,
              lambda _: self.index.write(with_bucket(self.store.read()), "doc_id", "text",
                                         ["lang", "len_bucket"], n=5, threshold=0.6))
        self.bytes_written.append(self._dir_bytes() - before)

        def collect(df):
            return df.select(F.to_json("v")).collect()

        for prog, text in W.INGEST_PROGRAMS.items():
            want = self.want_query[b][prog]

            def check_query(rows, want=want):
                got = sorted(x[0] for x in rows)
                return None if got == want else f"{len(got)} values, expected {len(want)}"

            self.check_query[prog] = check_query
            timed(f"query:{prog}",
                  lambda text=text: self.jq.run(
                      text, self.jq.stream_from_table(self.store.read()), ordered=False),
                  collect, check_query)
        return walls

    def landing_queries(self, b: int) -> None:
        """The jq programs over ``read_jsonl(landing dir)``. They are kept
        out of the round's wall and CPU sums and timed only as
        ``landing_s``: from batch 1 on they fail (JsonQ's plan cache keys
        a file source by its path, so a re-query after new files land
        gets batch 0's answer), and a correct answer would re-compile and
        scan more files, so timing them with the round would make the
        fix read as a regression."""
        from pyspark.sql import functions as F

        from bd_spark.sources.jsons import read_jsonl

        for prog, text in W.INGEST_PROGRAMS.items():
            key = f"r{b}:landing:{prog}"
            if b > 0:
                self.rounds.expected_fail.add(key)
            w = self._op(key, lambda text=text: self.jq.run(
                text, read_jsonl(self.spark, self.landing), ordered=False),
                lambda df: df.select(F.to_json("v")).collect(), self.check_query[prog])
            if w is not None:
                self.landing_s[key] = w


def ingest_split(rounds: Rounds) -> dict[str, list[float]]:
    """Seconds per ingest step (commit, dedup, query) in each batch."""
    steps = {"commit_s": ("commit_store", "commit_index"), "dedup_s": ("dedup",),
             "query_s": ("query",)}
    return {metric: [sum(v for k, v in w.items() if k.split(":")[0] in names)
                     for w in rounds.walls]
            for metric, names in steps.items()}


# -------------------------------------------------------------------- main

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bd_spark", "session.py")):
        print(f"perfbench: no engine sources at {ROOT}/bd_spark", file=sys.stderr)
        return 2
    spec = load_spec()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    env = host.run_environment(ROOT, run_dir, event_dir)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    noise0 = host.noise_snapshot()
    try:
        record = run(args, run_dir, event_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    noise1 = host.noise_snapshot()
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "nproc": host.nproc(),
        "mem_total_bytes": host.mem_total_bytes(),
        "steal_s": noise1["steal_s"] - noise0["steal_s"],
        "loadavg_start": noise0["loadavg"], "loadavg_end": noise1["loadavg"],
    })
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": record["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload:10s} {name:36s} {m['value']:14.6g} {m['unit']}")
    print(f"{args.workload:10s} attempted {record['attempted']} failed {record['failed']}"
          f" (expected failures {record['expected_failed']})")
    for e in record["errors"]:
        print(f"# {e}", file=sys.stderr)
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def run(args, run_dir: str, event_dir: str | None) -> dict:
    t_run = time.perf_counter()
    from oracle import RowOracle

    from bd_spark.queries import registry

    if args.workload == "ingest":
        cfg = W.INGEST
        batches = inputs.make_batches(args.seed, cfg["batches"], cfg["batch_size"],
                                      cfg["exact_share"], cfg["near_share"])
    else:
        sf_dir = inputs.TABLES_DIR
        qs = {**registry.all_queries(), **registry.extra_queries()}
        sql = {**registry.all_oracles(), **registry.extra_oracles()}
        rows = {n: qs[n] for n in W.RELATIONAL_ROWS}
    rounds = Rounds()
    phase = {"inputs_s": time.perf_counter() - t_run}
    spark, setup_s = start_session()
    tracer = None
    try:
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
        if args.workload == "ingest":
            one_round = IngestBatch(spark, batches, run_dir, rounds, tracer)
            n, after_round = len(batches), one_round.landing_queries
        else:
            one_round = RowRound(spark, rows, sf_dir, RowOracle(sf_dir, sql), rounds, tracer)
            n, after_round = None, None
        jvm_pid = _jvm_pid()
        t0 = time.perf_counter()
        rounds.run(one_round, n, args.seconds, after_round)
        phase["rounds_s"] = time.perf_counter() - t0
        peaks = _peaks(jvm_pid)
    finally:
        if tracer:
            tracer.uninstall()
        t0 = time.perf_counter()
        left = stop_session(spark)
        phase["stop_s"] = time.perf_counter() - t0
    expected_failed = sum(n for k, n in rounds.failed.items() if k in rounds.expected_fail)
    failed = sum(rounds.failed.values())
    record = {
        "attempted": rounds.attempted, "failed": failed,
        "expected_failed": expected_failed,
        # every failure is one of the known plan-cache failures
        "correct": failed == expected_failed,
        "errors": rounds.errors, "rounds": rounds.walls, "round_cpu_s": rounds.cpu,
        "leftover_pids": left, "phase_s": phase,
    }
    metrics = rounds.e2e(setup_s)
    if args.workload == "ingest":
        record["ingest_split_s"] = ingest_split(rounds)
        record["landing_query_s"] = one_round.landing_s
    if tracer:
        layer_metrics, record["per_op"] = trace_metrics(
            tracer, event_dir, rounds, one_round, setup_s, peaks)
        metrics.update(layer_metrics)
        record["spans"] = tracer.spans
    record["metrics"] = metrics
    return record


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _peaks(jvm_pid: int | None) -> dict:
    workers = host.descendants(jvm_pid) if jvm_pid else []
    return {
        "jvm": host.peak_rss_bytes(jvm_pid) if jvm_pid else 0,
        "worker": max([host.peak_rss_bytes(p) for p in workers] or [0]),
    }


def trace_metrics(tracer, event_dir, rounds: Rounds, one_round, setup_s, peaks):
    """Per-layer totals (one cold pass plus one mean warm round, or the
    ingest pass) and the per-op layer records."""
    from layers import summarize

    attributed = tracer.attribute(event_dir)
    fixed_pass = isinstance(one_round, IngestBatch)
    n_warm = len(rounds.walls) - 1 - rounds.skip
    op_walls, weight = {}, {}
    for r, walls in enumerate(rounds.walls):
        if 0 < r <= rounds.skip:
            continue  # the check round: its action is a collect, not the force
        for name, wall in walls.items():
            op_walls[f"r{r}:{name}"] = wall
            weight[f"r{r}:{name}"] = 1.0 if fixed_pass or r == 0 else 1.0 / n_warm
    if fixed_pass:  # landing re-queries: timed apart, traced with the rest
        op_walls.update(one_round.landing_s)
    totals, records = summarize(tracer, attributed, op_walls, weight)
    m = {k["name"]: totals.get(k["name"], 0.0) for k in load_spec()["per_layer"]}
    m["session.start_s"] = setup_s
    m["session.jvm_peak_rss_bytes"] = peaks["jvm"]
    m["session.worker_peak_rss_bytes"] = peaks["worker"]
    e2e = rounds.e2e(setup_s)
    m["trace.cold_s"] = e2e["cold_s"]
    m["trace.warm_s"] = e2e["warm_s"]
    m["trace.max_residual"] = max(
        [abs(rec["queries.construct_s"] + rec["exec.s"] - rec["wall_s"]) / rec["wall_s"]
         for rec in records.values() if rec["wall_s"] > 0] or [0.0])
    if fixed_pass:
        for metric, per_batch in ingest_split(rounds).items():
            m[f"ingest.{metric}"] = sum(per_batch)
        written = sum(one_round.bytes_written)
        m["sources.store_bytes_written"] = written
        m["sources.store_write_amplification"] = written / sum(one_round.batch_bytes)
        m["sources.landing_query_s"] = sum(one_round.landing_s.values())
    return m, records


if __name__ == "__main__":
    sys.exit(main())
