#!/usr/bin/env python3
"""Cut the benchmark's inputs from the repository's test data.

Writes the first ROWS[t] rows (in file order) of each table the workloads
read from a test-data directory, the sf0.01 tables, into perfbench/data/,
one parquet file each. The files are committed, so a run needs no test
data; `run.py` checks their content hash against the one the expected
digests were taken on.

Usage (from the repository root):
  python3 perfbench/make_inputs.py TESTDATA_DIR
"""
import argparse
import hashlib
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
# rows kept per table; embeddings and region are whole at sf0.01
ROWS = {"documents": 200, "embeddings": 500, "events": 4000, "region": 5}


def content_hash(data_dir):
    """sha256 over the input files' bytes, in table-name order."""
    h = hashlib.sha256()
    for t in sorted(ROWS):
        h.update(t.encode())
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cut(src_dir, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for t, n in ROWS.items():
        table = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        if table.num_rows < n:
            sys.exit(f"{t}: {table.num_rows} rows in {src_dir}, {n} needed")
        pq.write_table(table.slice(0, n), os.path.join(out_dir, f"{t}.parquet"))
    return content_hash(out_dir)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("testdata_dir")
    a = ap.parse_args()
    print(cut(a.testdata_dir, DATA))


if __name__ == "__main__":
    main()
