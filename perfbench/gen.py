"""Seeded inputs of the benchmark: a row permutation of each fixture.

The fixtures under perfbench/fixtures are copies of the engine's sf0.1
test tables. For a run, the seed shuffles the rows of each table a
workload reads, and the table is written back in the shipped layout: one
file, one row group, the fixture's schema and row count (checked after
writing). Values are untouched, so text shape, duplicate rate, key and
date distributions are those of the fixtures; the same seed always gives
the same bytes.
"""
import os
import zlib

import numpy as np
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture(name):
    return os.path.join(FIXTURES, f"{name}.parquet")


def generate(tables, seed, out_dir):
    """Write `tables` under `out_dir`; return {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in sorted(tables):
        t = pq.read_table(fixture(name))
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        t = t.take(rng.permutation(t.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=t.num_rows, compression="snappy")
        sizes[name] = layout(path, name)
    return sizes


def layout(path, name):
    """Check the shipped layout of one written table: one file, one row
    group, the fixture's schema and row count. Returns (rows, bytes)."""
    f, want = pq.ParquetFile(path), pq.ParquetFile(fixture(name))
    md = f.metadata
    if (md.num_row_groups != 1 or md.num_rows != want.metadata.num_rows
            or not f.schema_arrow.equals(want.schema_arrow)):
        raise RuntimeError(f"{name}: {md.num_row_groups} row groups, {md.num_rows} rows "
                           f"(want 1, {want.metadata.num_rows}, and the fixture's schema)")
    return md.num_rows, os.path.getsize(path)
