"""Write perfbench/data/ from the sf0.1 test tables (see TESTDATA.md).

    python3 perfbench/make_data.py SF0.1_DIR

Each table keeps its first ``data.ROWS[table]`` rows, in file order, with
its schema unchanged. The files are committed, so a run never reads
outside the checkout; run this again only to change the subset.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

from data import DATA, ROWS


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    os.makedirs(DATA, exist_ok=True)
    for name, n in ROWS.items():
        table = pq.read_table(os.path.join(argv[0], f"{name}.parquet"))
        if n is not None:
            table = table.slice(0, n)
        pq.write_table(table, os.path.join(DATA, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {table.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
