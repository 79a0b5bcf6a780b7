"""Versioned document store: MVCC-style snapshot reads over parquet.

The reference roadmap (README.md:7-16) promises "MVCC variant for
LLRB", "in-memory store" and "bottoms up b-tree for disk snapshots" —
none implemented there (zero reference code). The Spark-native answer
is not a tree: it is IMMUTABLE VERSIONED PARQUET plus an atomically
swapped manifest, the same design Delta/Iceberg build on:

  - every commit writes a NEW data directory (``v<N>/``) — data files
    are never mutated, so concurrent readers of older versions are
    never torn (snapshot isolation for free);
  - a tiny JSON manifest (``_manifest.json``) names the current
    version; it is replaced via write-temp + atomic ``os.replace``,
    so a reader sees either the old or the new version, never a mix;
  - ``read(version=...)`` time-travels to any retained snapshot;
    ``history()`` lists them; ``vacuum(keep)`` deletes data for
    versions older than the retention window (the only destructive
    operation, and it never touches the current version).

Commit modes:
  - ``overwrite``: the new version is exactly the given frame;
  - ``append``:    previous version's rows plus the given frame —
    implemented as a parquet-to-parquet copy-on-write union so the
    new snapshot is self-contained (no version chains to replay,
    reads stay one-directory scans at any history length);
  - ``upsert``:    previous rows whose key does NOT appear in the
    given frame, plus the frame (last-writer-wins on the key) — the
    MVCC "update" without mutating any file.

Scale notes: a commit is one distributed write of the new snapshot;
the manifest is O(bytes of one JSON object) regardless of data size.
For 100 TB tables one would commit per-partition manifests (Iceberg
snapshots) instead of rewriting the union — the API is the same; the
copy-on-write union here keeps the implementation dependency-free.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class VersionedStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # ------------------------------------------------------ manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": None, "versions": []}

    def _commit_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic swap

    # ------------------------------------------------------- commits
    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    def write(self, df: DataFrame, mode: str = "overwrite",
              key: str | None = None) -> int:
        """Commit a new version; returns its number.

        ``append`` unions with the current snapshot; ``upsert``
        (requires ``key``) replaces current rows sharing the key.
        """
        m = self._load_manifest()
        cur = m["current"]
        new_v = 0 if cur is None else cur + 1
        if mode == "overwrite" or cur is None:
            out = df
        elif mode == "append":
            out = self.read().unionByName(df)
        elif mode == "upsert":
            if key is None:
                raise ValueError("upsert requires key=")
            prev = self.read()
            out = prev.join(
                df.select(F.col(key)).distinct(), key, "left_anti"
            ).unionByName(df)
        else:
            raise ValueError(f"unknown mode {mode!r}")
        out.write.mode("errorifexists").parquet(self._data_dir(new_v))
        m["versions"].append({
            "version": new_v,
            "mode": mode,
            "ts": time.time(),
            # recorded so read() can skip parquet schema inference —
            # every spark.read.parquet without an explicit schema runs
            # a footer-read job first (one serial driver round-trip
            # per open; r11 stageprof: ~0.3 s of 1-task jobs at the
            # head of every dedup_batch). O(one JSON string).
            "schema": out.schema.json(),
        })
        m["current"] = new_v
        self._commit_manifest(m)
        return new_v

    # --------------------------------------------------------- reads
    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read of the current (or a time-traveled) version.
        The returned frame scans exactly one immutable directory."""
        m = self._load_manifest()
        if m["current"] is None:
            raise FileNotFoundError(f"empty store at {self.path}")
        v = m["current"] if version is None else version
        known = {e["version"] for e in m["versions"]}
        if v not in known:
            raise ValueError(f"version {v} not in store (have {sorted(known)})")
        entry = next(e for e in m["versions"] if e["version"] == v)
        schema_json = entry.get("schema")
        if schema_json:  # skip the footer-read schema-inference job
            schema = StructType.fromJson(json.loads(schema_json))
            return self.spark.read.schema(schema).parquet(self._data_dir(v))
        return self.spark.read.parquet(self._data_dir(v))

    def history(self) -> list[dict]:
        return list(self._load_manifest()["versions"])

    def current_version(self) -> int | None:
        return self._load_manifest()["current"]

    # ------------------------------------------------------- cleanup
    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop data for all but the newest ``keep`` versions (never
        the current one). Returns the removed version numbers."""
        import shutil

        m = self._load_manifest()
        if m["current"] is None:
            return []
        versions = sorted(e["version"] for e in m["versions"])
        to_drop = [v for v in versions[:-keep] if v != m["current"]]
        for v in to_drop:
            shutil.rmtree(self._data_dir(v), ignore_errors=True)
        m["versions"] = [
            e for e in m["versions"] if e["version"] not in to_drop
        ]
        self._commit_manifest(m)
        return to_drop

    def vacuum_keeping(self, keep_versions) -> list[int]:
        """Drop data for every version NOT in ``keep_versions`` (the
        current version is always kept). Callers holding an external
        reference set — DedupIndexStore's parent manifest — use this
        instead of count-based ``vacuum``: write() self-commits during
        a parent transaction, so a crash between a sub-store write and
        the parent commit leaves an ORPHAN sub-version; counting the
        orphan against a keep budget could then drop an older version
        a parent manifest still references (ADVICE r10). The manifest
        commits BEFORE data removal, so a crash mid-vacuum leaves
        orphan data, never dangling references."""
        import shutil

        m = self._load_manifest()
        if m["current"] is None:
            return []
        keep = set(keep_versions) | {m["current"]}
        to_drop = [
            e["version"] for e in m["versions"] if e["version"] not in keep
        ]
        m["versions"] = [
            e for e in m["versions"] if e["version"] in keep
        ]
        self._commit_manifest(m)
        for v in to_drop:
            shutil.rmtree(self._data_dir(v), ignore_errors=True)
        return to_drop
