"""Seeded corpus for the dedup operators, and its DuckDB oracle digests.

The corpus follows the schemas of the ``documents`` and ``embeddings``
tables the operators read. Documents are word sequences over a small
vocabulary; a share of them are planted near-duplicates (a copy of an
earlier document with one word appended), which the near-duplicate
queries must find. Embeddings are unit vectors; a share of them are
planted in tight clusters around random centres.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

N_DOCS = 5000
N_VECS = 2000
DIM = 64
NEAR_DUP_FRAC = 0.05
CLUSTERED_FRAC = 0.25
N_CLUSTERS = 20
CLUSTER_NOISE = 0.15
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

# exact queries: value-compared against DuckDB
ORACLE_QUERIES = ["q75_neardup_jaccard", "q78_simhash_pairs", "q80_cosine_topk", "q82_ann_ivf"]
# the operator family the corpus_dedup phase times, in order
TIMED_QUERIES = ORACLE_QUERIES[:1] + ["q76_neardup_minhash_lsh"] + ORACLE_QUERIES[1:]
Q76_RECALL_GATE = 0.9  # the test suite's gate on q76 against q75


def write_corpus(seed: int, out_dir: str) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` for ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    n_dup = int(N_DOCS * NEAR_DUP_FRAC)
    dup_at = set(rng.choice(np.arange(N_DOCS // 10, N_DOCS), size=n_dup, replace=False).tolist())
    for i in range(N_DOCS):
        if i in dup_at:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=N_DOCS, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    vecs = rng.standard_normal((N_VECS, DIM))
    n_clustered = int(N_VECS * CLUSTERED_FRAC)
    centres = rng.standard_normal((N_CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    members = rng.choice(N_VECS, size=n_clustered, replace=False)
    vecs[members] = centres[rng.integers(0, N_CLUSTERS, n_clustered)] + (
        CLUSTER_NOISE / np.sqrt(DIM)
    ) * rng.standard_normal((n_clustered, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def rows_digest(columns: list[str], rows) -> str:
    """Order-independent digest of a result: columns sorted by name, each
    value rendered with ``str``, rows sorted (the repo's parity rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cells = sorted(tuple(str(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(columns), cells]).encode())
    return h.hexdigest()


def oracle_digests(corpus_dir: str, repo_root: str) -> dict[str, str]:
    """DuckDB digests of the exact queries on the corpus (untimed)."""
    import sys

    import duckdb

    sys.path.insert(0, repo_root)
    from nsq2kinesis_spark.registry import all_queries

    queries = all_queries()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(corpus_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name in ORACLE_QUERIES:
        res = con.execute(queries[name].oracle)
        out[name] = rows_digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
