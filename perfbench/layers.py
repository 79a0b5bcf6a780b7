"""Per-layer tracing for the traced run: spans around the engine's public
functions, Py4J command counts, Spark job groups, Catalyst phase times
and the Spark event log.

Everything is installed from outside the engine: ``Tracer.install``
replaces the public functions named in ``HOOKS`` (in their defining
module and in every ``bd_spark`` module that imported them) with
timing wrappers. Untraced runs never construct a Tracer, so they run
the engine's code unchanged.

Spans stay in memory: (name, start, end, parent, op). Each span that
can launch Spark jobs tags them with its own job group, so the event
log attributes every job, stage and task to the innermost span that
launched it. Streaming micro-batches run on the query's own thread
under its run id; they are attributed by time to the streaming span
that was open when they were submitted.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict

# (module, attribute, span name); "Class.method" patches the class.
HOOKS = [
    ("bd_spark.catalog", "table", "catalog.table"),
    ("bd_spark.catalog", "rebalance", "catalog.rebalance"),
    ("bd_spark.streaming.ops", "run_to_memory", "streaming.run"),
    ("bd_spark.jsonq.parser", "parse", "jsonq.parse"),
    ("bd_spark.jsonq.compiler", "compile_query", "jsonq.compile"),
    ("bd_spark.jsonq.runtime", "JsonQ.run", "jsonq.run"),
    ("bd_spark.sources.store", "VersionedStore.write", "sources.store_write"),
    ("bd_spark.sources.store", "VersionedStore.read", "sources.store_read"),
    ("bd_spark.sources.jsons", "read_jsonl", "sources.read_jsonl"),
]
# pure-Python spans: no job group (saves two Py4J calls per span)
_NO_JOBS = {"jsonq.parse"}
_OPERATOR_METHODS = {
    "persist": "persist", "cache": "persist",
    "localCheckpoint": "checkpoint", "checkpoint": "checkpoint",
    "repartition": "repartition",
}
_GROUP_PREFIX = "pb"


class Tracer:
    """Spans, Py4J counts and per-op counters of one traced run."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.spans: list[list] = []     # [name, start, end, parent, op]
        self.py4j: dict[int, int] = defaultdict(int)   # span -> commands
        self.op_counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.stack: list[int] = []
        self.op: str | None = None
        self._mine = 0
        self._undo: list = []

    # ------------------------------------------------------------ spans
    def _set_group(self, idx: int | None) -> None:
        self._mine += 1
        try:
            group = None if idx is None else f"{_GROUP_PREFIX}{idx}"
            self.jsc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._mine -= 1

    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([name, time.time(), None, parent, self.op])
        self.stack.append(idx)
        if name not in _NO_JOBS:
            self._set_group(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.time()
        self.stack.pop()
        if self.spans[idx][0] not in _NO_JOBS:
            grouped = [i for i in self.stack if self.spans[i][0] not in _NO_JOBS]
            self._set_group(grouped[-1] if grouped else None)

    def span(self, name: str, fn, *args, **kwargs):
        idx = self._open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(idx)

    def count(self, key: str, n: float = 1) -> None:
        if self.op is not None:
            self.op_counts[self.op][key] += n

    # ---------------------------------------------------------- install
    def install(self) -> None:
        import py4j.java_gateway as jg
        from pyspark.sql.classic.dataframe import DataFrame

        from bd_spark.jsonq import compiler

        tracer = self
        send = jg.GatewayClient.send_command

        @functools.wraps(send)
        def counted_send(client, *a, **kw):
            if not tracer._mine:
                for i in tracer.stack:
                    tracer.py4j[i] += 1
                tracer.count("py4j_calls")
            return send(client, *a, **kw)

        self._patch(jg.GatewayClient, "send_command", counted_send)

        for meth, kind in _OPERATOR_METHODS.items():
            orig = getattr(DataFrame, meth)

            def op_wrapper(*a, __orig=orig, __kind=kind, **kw):
                tracer.count(f"operators.{__kind}_calls")
                return __orig(*a, **kw)

            self._patch(DataFrame, meth, functools.wraps(orig)(op_wrapper))

        for mod_name, attr, name in HOOKS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = getattr(cls, meth)
                self._patch(cls, meth, self._wrapper(name, orig, compiler))
            else:
                orig = getattr(mod, attr)
                wrapped = self._wrapper(name, orig, compiler)
                # rebind every module-level alias of the function
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("bd_spark") \
                            and getattr(m, attr, None) is orig:
                        self._patch(m, attr, wrapped)

    def _patch(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(
            owner, type) else getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()

    def _wrapper(self, name: str, orig, compiler):
        tracer = self
        if name == "jsonq.compile":
            @functools.wraps(orig)
            def compile_wrapper(*a, **kw):
                fn = tracer.span(name, orig, *a, **kw)
                tracer.count(f"jsonq.tier_{compiler.last_tier()}")
                tracer.count("jsonq.plan_cache_misses")

                @functools.wraps(fn)
                def apply(*fa, **fkw):
                    return tracer.span(name, fn, *fa, **fkw)

                return apply

            return compile_wrapper
        if name == "jsonq.run":
            @functools.wraps(orig)
            def run_wrapper(*a, **kw):
                before = tracer.op_counts[tracer.op]["jsonq.plan_cache_misses"]
                out = tracer.span(name, orig, *a, **kw)
                if tracer.op_counts[tracer.op]["jsonq.plan_cache_misses"] == before:
                    tracer.count("jsonq.plan_cache_hits")
                return out

            return run_wrapper

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            return tracer.span(name, orig, *a, **kw)

        return wrapper

    # --------------------------------------------------------- catalyst
    def catalyst(self, forced_df) -> None:
        """Catalyst phase times of the forcing action's QueryExecution."""
        self._mine += 1
        try:
            phases = forced_df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    self.count(f"catalyst.{phase}_s", opt.get().durationMs() / 1e3)
        finally:
            self._mine -= 1

    # ------------------------------------------------------ event log
    def attribute(self, event_log_dir: str) -> dict:
        """Read the event log (after the session stopped) and fold jobs,
        stages, tasks and Python SQL metrics into per-op counters."""
        files = glob.glob(os.path.join(event_log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {event_log_dir}, got {files}")
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_tasks: dict[int, list[float]] = defaultdict(list)
        stage_sum: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        interp_acc: dict[int, tuple[str, str]] = {}
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t": ev["Submission Time"] / 1e3,
                    }
                    for sid in ev["Stage IDs"]:
                        # a reused (skipped) stage ran in its first job
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    stage_tasks[sid].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                    s = stage_sum[sid]
                    s["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    inp = m.get("Input Metrics") or {}
                    s["input_bytes"] += inp.get("Bytes Read", 0)
                    s["input_records"] += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables") or []:
                        hit = interp_acc.get(acc.get("ID"))
                        if hit is not None and acc.get("Update") is not None:
                            s[hit[0]] += _scaled(float(acc["Update"]), hit[1])
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _python_metric_ids(ev.get("sparkPlanInfo") or {}, interp_acc)

        by_group = {f"{_GROUP_PREFIX}{i}": i for i in range(len(self.spans))}
        streaming = [i for i, s in enumerate(self.spans) if s[0] == "streaming.run"]
        job_span: dict[int, int] = {}
        for jid, j in jobs.items():
            idx = by_group.get(j["group"])
            if idx is None:  # a streaming micro-batch: its query's span
                idx = next((i for i in streaming
                            if self.spans[i][1] <= j["t"] <= (self.spans[i][2] or 1e30)), None)
            if idx is not None:
                job_span[jid] = idx
        return {"job_span": job_span, "stage_job": stage_job,
                "stage_tasks": stage_tasks, "stage_sum": stage_sum}

    def ancestors(self, idx: int):
        while idx is not None:
            yield idx
            idx = self.spans[idx][3]


def _scaled(v: float, metric_type: str) -> float:
    if metric_type == "nsTiming":
        return v / 1e9
    if metric_type == "timing":
        return v / 1e3
    return v


# Python-evaluation SQL metrics of the MapInPandas node (Spark 4.1
# names) -> benchmark counter names
_PY_METRICS = {
    "time to run Python workers": "interp.python_s",
    "time to start Python workers": "interp.worker_start_s",
    "time to initialize Python workers": "interp.worker_start_s",
    "number of output rows": "interp.rows_out",
    "data sent to Python workers": "interp.bytes_sent",
    "data returned from Python workers": "interp.bytes_received",
}


def _python_metric_ids(node: dict, out: dict) -> None:
    if "MapInPandas" in node.get("nodeName", ""):
        for m in node.get("metrics") or []:
            key = _PY_METRICS.get(m.get("name"))
            if key:
                out[m["accumulatorId"]] = (key, m.get("metricType", "sum"))
    for child in node.get("children") or []:
        _python_metric_ids(child, out)


def summarize(tracer: Tracer, attributed: dict, op_walls: dict[str, float],
              op_weight: dict[str, float]) -> tuple[dict, dict]:
    """Per-workload per-layer totals and per-op records.

    ``op_weight`` scales each op's contribution (1 for cold-round ops,
    1/k for each of k warm rounds), so totals read as one cold plus one
    mean warm pass whatever the number of warm rounds."""
    spans = tracer.spans
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def add(op, key, v):
        if op is not None:
            per_op[op][key] += v

    for i, (name, t0, t1, parent, op) in enumerate(spans):
        dur = (t1 or t0) - t0
        if name == "catalog.table":
            add(op, "catalog.table_calls", 1)
            add(op, "catalog.table_s", dur)
        elif name == "catalog.rebalance":
            add(op, "catalog.rebalance_calls", 1)
            add(op, "catalog.rebalance_s", dur)
        elif name == "queries.construct":
            add(op, "queries.construct_s", dur)
            add(op, "queries.construct_py4j_calls", tracer.py4j[i])
        elif name == "streaming.run":
            add(op, "streaming.run_s", dur)
            add(op, "streaming.calls", 1)
        elif name == "jsonq.parse":
            add(op, "jsonq.parse_s", dur)
        elif name == "jsonq.compile" and not _inside(spans, i, "jsonq.compile"):
            add(op, "jsonq.compile_s", dur)
            add(op, "jsonq.compile_py4j_calls", tracer.py4j[i])
        elif name == "sources.store_write" and not _inside(spans, i, name):
            add(op, "sources.store_write_s", dur)
        elif name == "sources.store_read":
            add(op, "sources.store_read_s", dur)
        elif name == "exec":
            add(op, "exec.s", dur)

    # jobs -> spans (and their ancestors); stages/tasks -> the same
    span_jobs: dict[int, set] = defaultdict(set)
    for jid, idx in attributed["job_span"].items():
        for a in tracer.ancestors(idx):
            span_jobs[a].add(jid)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in attributed["stage_job"].items():
        if sid in attributed["stage_tasks"]:  # skipped stages ran nothing
            job_stages[jid].append(sid)
    for i, (name, _t0, _t1, _parent, op) in enumerate(spans):
        n_jobs = len(span_jobs.get(i, ()))
        if name == "catalog.table":
            add(op, "catalog.table_jobs", n_jobs)
        elif name == "catalog.rebalance":
            add(op, "catalog.rebalance_jobs", n_jobs)
        elif name == "queries.construct":
            own = {j for j in span_jobs.get(i, ())
                   if spans[attributed["job_span"][j]][0] != "streaming.run"}
            add(op, "queries.construct_jobs", len(own))
        elif name == "streaming.run":
            add(op, "streaming.jobs", n_jobs)
        if name in ("exec", "streaming.run") and not _inside(spans, i, "streaming.run"):
            add(op, "exec.jobs", n_jobs)
            for jid in span_jobs.get(i, ()):
                for sid in job_stages.get(jid, []):
                    tasks = attributed["stage_tasks"][sid]
                    add(op, "exec.stages", 1)
                    add(op, "exec.tasks", len(tasks))
                    for k, v in attributed["stage_sum"][sid].items():
                        add(op, k if k.startswith("interp.") else f"exec.{k}", v)
                    if len(tasks) >= 2:
                        med = statistics.median(tasks)
                        skew = max(tasks) / med if med > 0 else 1.0
                        per_op[op]["exec.max_stage_skew"] = max(
                            per_op[op]["exec.max_stage_skew"], skew)
    for op, counts in tracer.op_counts.items():
        for k, v in counts.items():
            if k != "py4j_calls":
                per_op[op][k] += v

    records = {}
    for op, wall in op_walls.items():
        rec = dict(per_op.get(op, {}))
        # streaming runs inside construction but is execution
        rec["queries.construct_s"] = rec.get("queries.construct_s", 0.0) - rec.get("streaming.run_s", 0.0)
        rec["exec.s"] = rec.get("exec.s", 0.0) + rec.get("streaming.run_s", 0.0)
        rec["wall_s"] = wall
        records[op] = rec

    totals: dict[str, float] = defaultdict(float)
    for op, rec in records.items():
        w = op_weight.get(op, 1.0)
        for k, v in rec.items():
            if k == "exec.max_stage_skew":
                totals[k] = max(totals[k], v)
            elif k != "wall_s":
                totals[k] += w * v
    return dict(totals), records


def _inside(spans, idx: int, name: str) -> bool:
    p = spans[idx][3]
    while p is not None:
        if spans[p][0] == name:
            return True
        p = spans[p][3]
    return False
