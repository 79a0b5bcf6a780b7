"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given SF dir, then compares
row count, column names, and an order-insensitive value hash
(columns sorted by name, values stringified with float rounding).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

# this checkout's engine, wherever the script is run or imported from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bd_spark.catalog import TABLES  # noqa: E402


def driver_like_spark():
    """A deliberately *plain* SparkSession — none of get_spark's
    semantic confs (nanosAsLong, ansi off, UTC, LAST_WIN). The driver
    harness builds its own session like this, so running the gate on
    one proves the catalog shim sets everything it needs at runtime
    (VERDICT r01 items 1-2 were exactly this class of bug)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName("check_oracle_driverlike")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .getOrCreate()
    )


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = driver_like_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # Explicitly-named EXTRA queries are checkable too (their oracle
    # normally runs in tests/test_extra_oracle.py, not the driver gate)
    extra_requested = only - set(queries)
    if extra_requested:
        from bd_spark.queries import registry

        ex_q, ex_o = registry.extra_queries(), registry.extra_oracles()
        for n in sorted(extra_requested):
            if n in ex_q:
                queries[n] = ex_q[n]
                if n in ex_o:
                    oracles[n] = ex_o[n]
            else:
                print(f"SKIP {n}: unknown query name")
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct", "variant")
            ]
            if complex_cols:
                # the driver's pandas canonicalizer cannot hash these
                # (unhashable type: 'list') — scalarize before shipping
                print(f"FAIL {name}: complex output columns {complex_cols}")
                failed.append(name)
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sn, sh = table_hash(scols, srows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {sn} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            on, oh = table_hash(ocols, orows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        schema_ok = sorted(scols) == sorted(ocols)
        ok = schema_ok and sn == on and sh == oh
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: spark={sn} rows h={sh} | duck={on} rows h={oh}"
              + ("" if schema_ok else f" | SCHEMA {sorted(scols)} vs {sorted(ocols)}"))
        if not ok:
            failed.append(name)
            if sn == on and schema_ok:
                # locate first differing line for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in srows)
                lo = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"  spark: {a.replace(chr(31), ' | ')}")
                        print(f"  duck : {b.replace(chr(31), ' | ')}")
                        break
    spark.stop()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
