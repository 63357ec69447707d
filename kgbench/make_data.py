"""Write the benchmark corpus: the sf0.1 fixture's documents and embeddings.

    python3 kgbench/make_data.py <sf0.1 directory>

Copies every document of ``<dir>/documents.parquet``, reordered by a
permutation drawn with ``DRAW_SEED`` (``build`` reads all of them,
``serve`` the first ``wl_serve.N_DOCS``, a fixed random sample), and
every embedding of ``<dir>/embeddings.parquet`` (a mention's vector id is
its hash modulo the embedding count, so the count must not change) into
``kgbench/data/``.  The benchmark reads only these files.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

DRAW_SEED = 20261016
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = argv[0]
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    draw = np.random.default_rng(DRAW_SEED).permutation(docs.num_rows)
    os.makedirs(DATA, exist_ok=True)
    pq.write_table(docs.take(draw), os.path.join(DATA, "documents.parquet"))
    pq.write_table(pq.read_table(os.path.join(src, "embeddings.parquet")),
                   os.path.join(DATA, "embeddings.parquet"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
