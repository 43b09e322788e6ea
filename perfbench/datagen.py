"""Seeded tables for the query battery.

The tables the battery reads, with the schemas, sizes and value ranges of
the package's sf0.1 test data (see TESTDATA.md): 15k customers and 5k
documents over a 31-word vocabulary, one in twenty a near-duplicate.
Contents come from a fixed seed, so every run queries the same rows and
every oracle answer holds; the run seed only permutes the row order of
each table as written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "zh", "de", "fr", "es"]
N_CUSTOMER, N_DOCS = 15_000, 5_000


def build_tables() -> dict[str, pa.Table]:
    """The tables the battery reads, with fixed contents."""
    rng = np.random.default_rng(CONTENT_SEED)
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), n)]) for n in rng.integers(10, 101, N_DOCS)]
    # one document in twenty is a near-duplicate: another one plus " dup"
    for dst, src in rng.integers(0, N_DOCS, (N_DOCS // 20, 2)):
        texts[dst] = texts[src] + " dup"
    documents = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "documents": documents}


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table to ``out_dir/<name>.parquet`` in a row order
    permuted by ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{name}.parquet"))
