"""Seeded benchmark inputs: a deterministic row permutation of every table.

The base tables in ``data/`` are the sf0.01 testdata (TPC-H-style star
schema plus the ``events``, ``documents`` and ``embeddings`` corpora). A
seed permutes the row order of each table and nothing else, so every
order-insensitive answer stays the same while stripe min/max statistics,
partition contents and shuffle arrival order change with the seed.

The same seed gives byte-identical files: the permutation comes from
``numpy.random.default_rng((seed, crc32(table)))`` and the parquet writer
options are fixed.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = tuple(
    sorted(f[: -len(".parquet")] for f in os.listdir(BASE_DIR) if f.endswith(".parquet"))
)


def permuted_table(name: str, seed: int, base_dir: str = BASE_DIR):
    """The base table ``name`` with its rows in the order ``seed`` picks."""
    table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
    rng = np.random.default_rng((seed, zlib.crc32(name.encode())))
    return table.take(rng.permutation(table.num_rows))


def write_inputs(out_dir: str, seed: int, base_dir: str = BASE_DIR) -> str:
    """Write every permuted table as ``out_dir/<table>.parquet``; returns
    ``out_dir``, laid out as the ``sf_dir`` the registry queries read."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(
            permuted_table(name, seed, base_dir),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )
    return out_dir
