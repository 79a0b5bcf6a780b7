"""The benchmark's inputs: the engine's testdata, and the ``ingest``
batches drawn from it by seed.

``data/`` holds byte-for-byte copies of the driver-generated testdata of
TESTDATA.md (seed 42; ``data/SHA256SUMS`` lists the files): the ten
sf0.01 tables, which ``relational`` reads in place, and the sf0.1
``documents`` table, from which ``make_batches`` draws the ``ingest``
documents. Nothing here imports the engine.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES_DIR = os.path.join(DATA, "sf0.01")
DOCUMENTS = os.path.join(DATA, "documents-sf0.1.parquet")


def load_documents() -> list[dict]:
    """The sf0.1 documents in doc_id order."""
    res = duckdb.sql(f"SELECT doc_id, text, lang, source, n_chars FROM '{DOCUMENTS}' "
                     "ORDER BY doc_id")
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, row)) for row in res.fetchall()]


def make_batches(seed: int, n_batches: int, batch_size: int,
                 exact_share: float, near_share: float) -> list[list[dict]]:
    """``ingest`` batches of distinct sf0.1 documents, drawn by seed.

    From the second batch on, each document is replaced, with
    probability ``exact_share``, by a verbatim copy and, with
    probability ``near_share``, by a near copy of a document of an
    earlier batch (same lang). A near copy appends " dup" to the text,
    the form the near duplicates of the sf0.1 table itself take. Doc ids
    are renumbered by arrival, so copies get ids of their own."""
    rng = np.random.default_rng([seed, 2])
    pool = load_documents()
    picks = rng.permutation(len(pool))[:n_batches * batch_size]
    batches: list[list[dict]] = []
    seen: list[dict] = []
    for b in range(n_batches):
        batch = []
        for i in range(batch_size):
            doc_id = b * batch_size + i
            doc = dict(pool[picks[doc_id]], doc_id=doc_id)
            u = rng.random()
            if seen and u < exact_share + near_share:
                src = seen[int(rng.integers(0, len(seen)))]
                text = src["text"] if u < exact_share else src["text"] + " dup"
                doc.update(text=text, lang=src["lang"], n_chars=len(text))
            batch.append(doc)
        seen.extend(batch)
        batches.append(batch)
    return batches
