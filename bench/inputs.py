"""Seeded inputs: a row-permuted copy of the benchmark's base tables.

The copy has the parquet schema of the base file and the same rows, in a
seed-dependent order and split into a seed-dependent number of row groups.
Its logical content is that of the base tables, so the oracle answers
computed from the base tables hold for every seed.
"""
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq


def tables(base_dir):
    return sorted(f for f in os.listdir(base_dir) if f.endswith(".parquet"))


def digest(base_dir):
    """Identity of the logical input: a hash of the base tables' bytes."""
    h = hashlib.sha256()
    for name in tables(base_dir):
        h.update(name.encode())
        with open(os.path.join(base_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def permuted_copy(base_dir, out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in tables(base_dir):
        src = pq.ParquetFile(os.path.join(base_dir, name))
        table = src.read()
        table = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(1, 5))
        pq.write_table(
            table, os.path.join(out_dir, name),
            row_group_size=max(1, -(-table.num_rows // groups)),
            version=src.metadata.format_version,
            compression=src.metadata.row_group(0).column(0).compression)
