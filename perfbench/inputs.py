"""Benchmark inputs: the repository's read-only test fixture, laid out
by the seed.

``fixture/`` holds unmodified copies of the fixture tables the
benchmarked apps read: ``orders`` and ``lineitem`` at sf0.001 for the
matcher, ``customer`` and ``documents`` at sf0.01 for the dedup apps.
The table CONTENT is therefore fixed, and one recorded fingerprint per
output checks every run.  The run's ``--seed`` decides only the
physical LAYOUT: each table's row order and how many parquet files it is
split into (1-4).  Layout changes the partitioning, task sizes and
shuffle order the engine sees, but never the correct answer, so a
result that depends on input order fails the output check.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

#: workload -> (fixture scale, tables its apps read)
TABLES = {
    "matcher": ("sf0.001", ("orders", "lineitem")),
    "dedup": ("sf0.01", ("customer", "documents")),
}


def fixture_path(workload: str, table: str) -> str:
    scale, _ = TABLES[workload]
    return os.path.join(FIXTURE_DIR, scale, f"{table}.parquet")


def write_inputs(workload: str, out_dir: str, seed: int) -> dict[str, int]:
    """Write the workload's tables as
    ``<out_dir>/<table>.parquet/part-*.parquet`` in the row order and
    file split chosen by ``seed``; returns the row count per table."""
    layout = np.random.default_rng(seed)
    rows = {}
    for name in TABLES[workload][1]:
        table = pq.read_table(fixture_path(workload, name))
        table = table.take(pa.array(layout.permutation(table.num_rows)))
        n_files = 1 + int(layout.integers(4))
        cuts = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for i in range(n_files):
            pq.write_table(
                table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                os.path.join(tdir, f"part-{i:05d}.parquet"),
            )
        rows[name] = table.num_rows
    return rows
