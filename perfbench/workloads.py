"""The workloads: which registry rows run (over the sf0.01 testdata,
inputs.py), and the ``ingest`` batch loop's make-up.

Rows and batches are trimmed so that one run (a 10-15 s session start,
a cold round paying the JVM's warm-up, then warm rounds) fits the
benchmark's time budget; every layer the benchmark reports is still
exercised on at least one workload. README.md gives the reasons.
"""

from __future__ import annotations

import json

# Registry rows of the relational workload: one row per operator
# family, within the run-length budget (README.md).
RELATIONAL_ROWS = [
    "q1_pricing_summary",        # TPC-H: scan + CASE aggregate
    "q3_shipping_priority",      # TPC-H: join + aggregate + top-k
    "q_orders_rollup",           # grouping sets
    "q_window_top_orders",       # window rank
    "q_asof_last_order",         # temporal as-of join
    "q_stream_running_totals",   # streaming (run_to_memory)
]

# ingest: batches arrive one at a time; each carries exact and near
# duplicates of documents of earlier batches.
INGEST = {"batches": 2, "batch_size": 50, "exact_share": 0.05,
          "near_share": 0.1}

# jq programs run on every ingest batch, over the store snapshot and
# over the landing directory. The first stays on the staged lane, the
# second is cost-routed to the interp tier (a HOF: map).
INGEST_PROGRAMS = {
    "en_ids": 'select(.lang == "en") | .doc_id',
    "word_chars": '.text | split(" ") | map(length) | add',
}


def expected_program_output(program: str, docs: list[dict]) -> list[str]:
    """Sorted JSON texts the program yields over ``docs``, computed in
    plain Python."""
    if program == "en_ids":
        vals = [d["doc_id"] for d in docs if d["lang"] == "en"]
    elif program == "word_chars":
        vals = [sum(len(w) for w in d["text"].split(" ")) for d in docs]
    else:
        raise KeyError(program)
    return sorted(json.dumps(v) for v in vals)


WORKLOADS = ("relational", "ingest")
