"""Write the benchmark's base inputs from the repo's sf0.1 test tables.

    python3 dqbench/slice_inputs.py <directory with the sf0.1 parquet files>

``documents.parquet`` and ``embeddings.parquet`` are copied whole.
``lineitem.parquet`` keeps every line of the orders whose key is a
multiple of ``ORDER_STRIDE``, so each kept order has all its lines and
the column distributions stay those of the full table. The benchmark
reads only these files (data.py); run this again only to change them.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "inputs")
ORDER_STRIDE = 20


def main(src: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    for name in ("documents", "embeddings"):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(table, os.path.join(OUT, f"{name}.parquet"))
    lineitem = pq.read_table(os.path.join(src, "lineitem.parquet"))
    keep = lineitem["l_orderkey"].to_numpy() % ORDER_STRIDE == 0
    pq.write_table(lineitem.filter(pa.array(keep)),
                   os.path.join(OUT, "lineitem.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
