"""Seeded benchmark inputs built from the base tables in ``inputs/``.

The base tables are slices of the repo's sf0.1 test tables
(slice_inputs.py). Every input is a pure function of the base tables and
the seed: the same seed writes the same rows into the same files. Tables
are built and written with pyarrow, so building them runs no Spark job.
"""

from __future__ import annotations

import os
from typing import List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs")
# the base lineitem holds the orders whose key is a multiple of this
BASE_ORDER_STRIDE = 20
COPIES = 10
KEY_SHIFT = 10**8
NULL_RATE = 0.01
NULLABLE = ("l_partkey", "l_discount", "l_tax")


def lineitem(seed: int, order_stride: int) -> pa.Table:
    """The lines of every order whose key is a multiple of
    ``order_stride`` (a multiple of the base table's stride), as
    ``COPIES`` key-shifted copies: copy ``c`` adds ``c * KEY_SHIFT`` to
    every order key, as in the repo's sf1 scale-up. About 1% of the
    values in each column of ``NULLABLE`` are nulls, at seed-chosen
    rows."""
    if order_stride % BASE_ORDER_STRIDE:
        raise ValueError(f"order_stride must be a multiple of "
                         f"{BASE_ORDER_STRIDE}")
    base = pq.read_table(os.path.join(INPUTS, "lineitem.parquet"))
    base = base.filter(pa.array(
        base["l_orderkey"].to_numpy() % order_stride == 0))
    table = pa.concat_tables([base] * COPIES)
    shift = np.repeat(np.arange(COPIES, dtype=np.int64) * KEY_SHIFT,
                      base.num_rows)
    table = table.set_column(
        table.schema.get_field_index("l_orderkey"), "l_orderkey",
        pa.array(table["l_orderkey"].to_numpy() + shift))
    rng = np.random.default_rng(seed)
    for name in NULLABLE:
        i = table.schema.get_field_index(name)
        mask = rng.random(table.num_rows) < NULL_RATE
        table = table.set_column(i, name, pa.array(
            table[name].to_numpy(zero_copy_only=False), mask=mask))
    return table


def write_files(table: pa.Table, path: str, n_files: int, seed: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``path``; the
    seed permutes which row lands in which file and in what order."""
    os.makedirs(path, exist_ok=True)
    order = np.random.default_rng(seed + 1).permutation(table.num_rows)
    for i, part in enumerate(np.array_split(order, n_files)):
        pq.write_table(table.take(pa.array(part)),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def split_days(table: pa.Table, n_days: int, seed: int) -> List[pa.Table]:
    """Split ``table`` into ``n_days`` deltas by a seeded hash of the row."""
    day = np.random.default_rng(seed + 2).integers(0, n_days, table.num_rows)
    return [table.filter(pa.array(day == d)) for d in range(n_days)]


def corpus(seed: int):
    """The sf0.1 documents (doc_id, text, ...) and embeddings (vec_id,
    embedding, ...), with ids renamed by one seeded permutation (a vector
    keeps the id of its document) and the rows of each table in seeded
    order. Returns (docs, embeddings) as pyarrow tables."""
    docs = pq.read_table(os.path.join(INPUTS, "documents.parquet"))
    emb = pq.read_table(os.path.join(INPUTS, "embeddings.parquet"))
    rng = np.random.default_rng(seed)
    old = docs["doc_id"].to_numpy()
    new = rng.permutation(np.arange(1, 10 * len(old) + 1))[:len(old)]
    rename = dict(zip(old.tolist(), new.tolist()))

    def renamed(table, col):
        ids = pa.array([rename[i] for i in table[col].to_pylist()],
                       type=pa.int64())
        table = table.set_column(table.schema.get_field_index(col), col, ids)
        return table.take(pa.array(rng.permutation(table.num_rows)))

    return renamed(docs, "doc_id"), renamed(emb, "vec_id")
