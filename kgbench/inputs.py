"""Seeded inputs for the benchmark.

The corpus is the sf0.1 fixture's 5,000 documents, in a fixed random
order, and its 2,000 embeddings (``kgbench/data/``, written by
``kgbench/make_data.py``); a workload reads the first ``n`` documents,
so output sizes and fingerprints can be pinned once.  The workload ``--seed`` moves everything else: the doc_id
offset (and with it every doc_id hash partition and runner bucket), the
serve graph sample and the serve operation sequence.  The offset is a
multiple of 10**9, which is a multiple of ``grammar.MEDIA_MOD``, so media
refs do not change.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
OFFSET_UNIT = 10**9


def corpus(n_docs: int) -> pd.DataFrame:
    """The first ``n_docs`` documents of the sample (in draw order)."""
    docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pandas()
    if len(docs) < n_docs:
        raise ValueError(f"the sample holds {len(docs)} documents, not {n_docs}")
    return docs.iloc[:n_docs].reset_index(drop=True)


def offset(seed: int) -> int:
    """The seeded doc_id offset, a multiple of OFFSET_UNIT."""
    return int(np.random.default_rng([seed, 1]).integers(1, 4000)) * OFFSET_UNIT


def write_inputs(d: str, docs: pd.DataFrame) -> str:
    """Write ``documents.parquet`` (``docs``) and the sample's
    ``embeddings.parquet`` — the engine's input layout — under ``d``."""
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(d, "documents.parquet"))
    shutil.copyfile(os.path.join(DATA, "embeddings.parquet"),
                    os.path.join(d, "embeddings.parquet"))
    return d
