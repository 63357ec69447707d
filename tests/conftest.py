from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kgspark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    s = get_spark(app_name="kgspark-tests", master=f"local[{cpus}]")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """Pandas reference oracle outputs at sf0.001 (computed once)."""
    from tests.oracle_kg import load_documents, load_embeddings, oracle_triples

    docs = load_documents(sf_dir)
    embs = load_embeddings(sf_dir)
    triples, inter = oracle_triples(docs, embs)
    return {"documents": docs, "embeddings": embs, "triples": triples, **inter}
