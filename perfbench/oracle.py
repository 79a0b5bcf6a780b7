"""Answer checks made apart from the engine.

Registry rows are compared with their DuckDB oracle SQL over the same
parquet files, by row count and the order-insensitive row hash of
``tools/check_oracle.py`` (columns sorted by name, floats to 6
significant digits), imported from that script so the benchmark checks
rows exactly as the correctness gate does. ``ingest`` is checked with
plain Python over its batches.
"""

from __future__ import annotations

import os
import sys

import duckdb

from bd_spark.catalog import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import table_hash  # noqa: E402


class RowOracle:
    """DuckDB over one scale directory; one connection per run."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]):
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the engine's rows match the oracle, else why not."""
        if name not in self.sql:
            return "no oracle SQL"
        res = self.con.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        got, want = table_hash(cols, rows), table_hash(ocols, res.fetchall())
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if got != want:
            return f"engine {got} != oracle {want}"
        return None


# ---------------------------------------------------------------- ingest

def char_grams(text: str, n: int = 5) -> set[str]:
    s = text.strip().lower()
    return {s[i:i + n] for i in range(len(s) - n + 1)}


def expected_dedup(batches: list[list[dict]], threshold: float = 0.6
                   ) -> list[dict[int, tuple[bool, bool]]]:
    """Per batch after the first: {doc_id: (exact, near)} against every
    document of the earlier batches. Exact is normalized-text equality;
    near is char-5-gram Jaccard >= threshold within (lang, len-bucket)
    blocks, where the len-bucket is n_chars // 100."""
    out: list[dict[int, tuple[bool, bool]]] = [{}]
    seen_norm: set[str] = set()
    blocks: dict[tuple, list[set[str]]] = {}

    def add(doc: dict) -> None:
        seen_norm.add(doc["text"].strip().lower())
        key = (doc["lang"], doc["n_chars"] // 100)
        blocks.setdefault(key, []).append(char_grams(doc["text"]))

    for doc in batches[0]:
        add(doc)
    for batch in batches[1:]:
        flags = {}
        for doc in batch:
            g = char_grams(doc["text"])
            near = False
            for other in blocks.get((doc["lang"], doc["n_chars"] // 100), []):
                union = len(g | other)
                if union and len(g & other) / union >= threshold:
                    near = True
                    break
            flags[doc["doc_id"]] = (doc["text"].strip().lower() in seen_norm, near)
        out.append(flags)
        for doc in batch:
            add(doc)
    return out
