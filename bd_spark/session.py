"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are
the ones we would ship to a 1000-executor cluster (AQE, skew-join
handling, partition-size based coalescing) — nothing here is
local-mode-specific except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The driver heap is half the memory this process may use, capped at
# the 24g the 32-core calibration host runs with. Local mode runs every
# task in the driver JVM, whose RSS (code cache, metaspace, Arrow and
# shuffle buffers) grows well past the heap, and the Python workers
# need room beside it: a 24g heap on a 15 GB host was OOM-killed.
_DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_memory(
    meminfo: str = "/proc/meminfo",
    cgroup_max: str = "/sys/fs/cgroup/memory.max",
) -> str:
    """Default ``spark.driver.memory``: half of MemTotal, or of the
    cgroup memory limit when that is lower, capped at 24g."""
    limits = []
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    try:
        with open(cgroup_max) as f:
            limits.append(int(f.read().strip()))
    except (OSError, ValueError):  # absent, or "max" (no limit)
        pass
    if not limits:
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(min(limits) // 2 // 2**20, _DRIVER_MEM_CAP_MB)}m"


def get_spark(app_name: str = "bd_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Design notes for cluster scale:
      - AQE on: runtime coalescing of shuffle partitions + skew-join
        splitting replaces hand-tuned ``spark.sql.shuffle.partitions``.
      - ``autoBroadcastJoinThreshold`` raised to 64 MB: dimension tables
        (region/nation/customer/supplier/part at any SF) should never
        shuffle; fact-fact joins still sort-merge.
      - Arrow enabled: every Pandas UDF path (minhash, embeddings,
        multimodal decode) transfers columnar batches, not pickled rows.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # jq semantics: type mismatches degrade to null, never throw
        # (reference json.rs:914,938,1014 behavior)
        .config("spark.sql.ansi.enabled", "false")
        # object union `+` is rhs-wins (reference json.rs:963-995)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
        # Whole-stage codegen emits thousands of large JIT-compiled
        # methods across a many-query workload; the JVM's default
        # reserved code cache overflows mid-run ("CodeCache is full.
        # Compiler has been disabled") and queries nondeterministically
        # fall off the compiled path — measured 2-5x per-query cliffs.
        # Reserving 2g (virtual, committed on demand) removes the
        # cliff on driver and, in local mode, executors alike; on a
        # cluster the same flag belongs in executor extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=2g")
        .config("spark.log.level", "WARN")
    )
    # measurement plumbing (perfbench, tools/prof.py): "k=v;k=v" extra
    # confs, e.g. the event log — never set in the bench/driver path
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    return builder.getOrCreate()
