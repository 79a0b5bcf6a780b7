"""Table catalog over the driver's parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any scale factor the
# driver generates (region=5, nation=25, supplier/part grow slowly).
BROADCAST_TABLES = {"region", "nation", "supplier", "part"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _fix_time_types(df)


# Runtime-settable SQL confs the engine's semantics depend on. Callers
# (the driver harness included) build their own SparkSessions without
# them, so every entry point sets them on the session it is handed:
#   - ansi off: jq semantics degrade type mismatches to null, never
#     throw (reference json.rs:914,938,1014); Spark 4 defaults ANSI on.
#   - LAST_WIN: object union `+` is rhs-wins (reference json.rs:963-995).
#   - UTC: oracle SQL (DuckDB) compares timestamps in UTC.
_SESSION_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.session.timeZone": "UTC",
}

TIME_COLUMNS = ("ts", "o_orderdate", "l_shipdate")


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf made static in this build; best-effort


def _fix_time_types(df: DataFrame) -> DataFrame:
    """Normalize time columns to session-TZ TIMESTAMP regardless of how
    the testdata stored them. The driver's parquet stores
    ``timestamp[us]`` WITHOUT timezone → Spark reads TIMESTAMP_NTZ,
    which ``withWatermark`` rejects and which cannot cast to BIGINT.
    With the session TZ pinned to UTC (``_SESSION_CONFS``) the
    NTZ→TIMESTAMP cast is value-preserving, so DuckDB oracles agree."""
    from pyspark.sql import functions as F

    fixes = {}
    for field in df.schema.fields:
        if field.name in TIME_COLUMNS and field.dataType.simpleString() == "timestamp_ntz":
            fixes[field.name] = F.col(field.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def rebalance(df: DataFrame) -> DataFrame:
    """The engine's one spread rule: a frame with fewer partitions than
    cores (``defaultParallelism``) is round-robin repartitioned to one
    partition per core before CPU-dense row-local compute
    (minhash/simhash signatures, n-gram sets, jq evaluation, the
    incremental dedup prefix probe). Locally a small table is ONE
    parquet file = ONE input split, which would serialize the whole
    operator on a single core (measured 7 s single-core vs 0.4 s
    rebalanced for minhash signatures at sf0.1). On a real cluster
    input splits already exceed cores and this is a no-op: no shuffle
    is added.

    Every call probes ``df.rdd.getNumPartitions()``, so the decision
    always follows the files as they are now; nothing is cached. Over
    a scan plus row-local projections the probe is driver-side
    physical planning only (0.03-0.18 s at sf0.1, no Spark job). Over
    a frame that already holds an exchange it is not free: AQE runs
    the shuffle map stages to learn the coalesced partition count the
    probe reads (1-3 jobs, ~0.4 s for a few-MB distinct at sf0.1).
    Over a plain frame the next action runs those stages again; over a
    persisted one the cache keeps them, so the work only moves into
    query construction. Callers therefore apply it to scans. A
    streaming frame has no RDD and comes back unchanged.
    """
    if df.isStreaming:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def load_all(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view so spark.sql() can see them."""
    for name in TABLES:
        table(spark, name, sf_dir).createOrReplaceTempView(name)
