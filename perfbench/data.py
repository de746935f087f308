"""Benchmark inputs: fixed row subsets of the repository's sf0.1 test tables.

``perfbench/data/<table>.parquet`` holds the first ``ROWS[table]`` rows of
the sf0.1 table of that name (the whole table where ``ROWS`` says None);
``make_data.py`` writes them. The values never change with the seed: a
run's seed only permutes each table's rows (``write_inputs``), and the
workloads use it to salt increment splits and order table registration.
Every output the benchmark checks is invariant to both.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# rows kept per table; None keeps the whole sf0.1 table. The large tables
# are cut so one run fits its time window with several passes to take a
# median over.
ROWS = {
    "part": None,
    "orders": 10_000,
    "lineitem": 30_000,
    "events": 10_000,
    "documents": 1_000,
}


def write_inputs(out_dir: str, names, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each name, its rows in an
    order drawn from the seed; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        rng = np.random.default_rng([seed, sorted(ROWS).index(name)])
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
