"""Seeded inputs: a row permutation of the engine's sf0.01 test data.

``data/sf0.01/`` is a copy of the ten parquet tables the engine's
correctness tests read at sf0.01 (the TPC-H-style star schema, ``events``,
``documents`` and ``embeddings``). ``write_tables`` writes every table as
``<table>.parquet`` in a row order drawn from the seed, with the source
file's row-group size, compression and arrow schema (physical column
types and metadata), so a seed changes the order in which the engine
reads rows and nothing its oracles compute.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tinymapreduce_spark.sources.loaders import TABLES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def write_tables(out_dir: str, seed) -> str:
    """Write a ``seed``-ordered copy of every table under ``out_dir``.
    Same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        src = pq.ParquetFile(os.path.join(DATA_DIR, f"{name}.parquet"))
        table = src.read()
        pq.write_table(
            table.take(pa.array(rng.permutation(table.num_rows))),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, src.metadata.row_group(0).num_rows),
            compression=src.metadata.row_group(0).column(0).compression.lower(),
        )
    return out_dir
