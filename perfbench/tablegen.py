"""Seeded tables in the driver-contract schema, and their DuckDB oracle counts.

Writes the two tables the ``analytics_batch`` ids read, ``documents`` and
``embeddings``, into one directory with the column types and value shapes
of the project's sf0.01 test data: word-bag documents over a small
vocabulary with a share of near-duplicate copies, and unit-norm 64-d
embeddings around ten centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
TABLES = ("documents", "embeddings")

#: Row counts, at the project's sf0.01 test-data sizes.
N_DOCS = 500
N_VECS = 500
NEAR_DUP_SHARE = 0.1


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)].tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centres[labels] + 0.6 * rng.normal(size=(N_VECS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> None:
    rng = np.random.default_rng(seed)
    tables = {"documents": _documents(rng), "embeddings": _embeddings(rng)}
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def oracle_counts(sf_dir: str, ids: list[str]) -> dict[str, int]:
    """Row count of each id's DuckDB ``oracle_sql()`` over ``sf_dir``."""
    import duckdb

    from mycenae_spark.registry import ORACLE

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return {
        i: con.sql(
            f"SELECT count(*) FROM ({ORACLE[i].strip().rstrip(';')})"
        ).fetchone()[0]
        for i in ids
    }
