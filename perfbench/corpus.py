"""Seeded synthetic corpus for the query-mix workload.

Writes the three tables the mix reads (``documents``, ``customer``,
``embeddings``) as parquet, in the column layout of the repository's
contract test data, so ``__spark_entry__`` queries and their
``oracle_sql()`` twins run unchanged against the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the contract corpus's 31-word vocabulary: a tiny vocabulary makes
#: word-set similarity dense, which is what the dedup queries are
#: sized against
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
N_SOURCES = 20
#: embedding width the contract data uses; q33's oracle is written for it
DIM = 64
#: embeddings are drawn around this many centres, so a coarse quantizer
#: has clusters to find
N_CENTRES = 8


def write_corpus(out_dir: str, seed: int, n_docs: int, n_customers: int) -> None:
    """Write ``documents``, ``customer`` and ``embeddings`` (one vector
    per document) under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    # ~1% exact and near duplicates, so the dedup queries have real edges
    for i in rng.choice(n_docs, max(1, n_docs // 100), replace=False):
        j = int(rng.integers(n_docs))
        texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " dup"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    # a seeded key base: the synthesized PII text is a function of the key
    keys = int(rng.integers(0, 10**6)) + np.arange(n_customers)
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        }),
        os.path.join(out_dir, "customer.parquet"),
    )

    centres = rng.normal(0.0, 0.2, (N_CENTRES, DIM))
    labels = rng.integers(0, N_CENTRES, n_docs)
    vecs = (centres[labels] + rng.normal(0.0, 0.05, (n_docs, DIM))).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
