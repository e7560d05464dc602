"""Seeded input generator for the dedup_corpus workload.

It writes parquet in the same layout and with the same physical schema
as the engine's reference test data (`documents.parquet` and
`embeddings.parquet`, pyarrow writer), so the Dedup operators read it
unchanged. The same seed always yields byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window vector table stream join "
         "data customer the lake commit file shard index merge plan cache node "
         "page row byte task stage").split()
LANGS = ["en", "fr", "de", "es", "zh"]


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def dedup_shard(out_dir, seed, n_docs, n_vecs, dim=64, planted=None):
    """One corpus shard: `documents.parquet` and `embeddings.parquet`.

    Plants `planted` exact-duplicate texts, `planted` one-word-edited
    near-duplicate texts (word 3-gram Jaccard well above 0.8) and
    `planted` near-duplicate vector pairs (cosine about 0.99, against
    about 0.45 at most between unrelated 64-dim Gaussian vectors).
    Returns the ground truth: {"exact": [(a, b)], "near_text": [(a, b)],
    "near_vec": [(a, b)], "rows": {...}} with a < b in every pair.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    k = planted if planted is not None else max(1, n_docs // 20)
    texts = [_text(rng, int(w)) for w in rng.integers(40, 90, n_docs)]
    ids = rng.permutation(n_docs)
    exact, near = [], []
    for j in range(k):
        a, b = sorted((int(ids[2 * j]), int(ids[2 * j + 1])))
        texts[b] = texts[a]
        exact.append((a, b))
    for j in range(k, 2 * k):
        a, b = sorted((int(ids[2 * j]), int(ids[2 * j + 1])))
        words = texts[a].split(" ")
        pos = int(rng.integers(len(words) // 3, 2 * len(words) // 3))
        words[pos] = "edited" + str(j)
        texts[b] = " ".join(words)
        near.append((a, b))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"), compression="snappy")

    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    vids = rng.permutation(n_vecs)
    near_vec = []
    for j in range(k):
        a, b = sorted((int(vids[2 * j]), int(vids[2 * j + 1])))
        vecs[b] = vecs[a] + 0.1 * rng.standard_normal(dim).astype(np.float32)
        near_vec.append((a, b))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs), pa.list_(pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"), compression="snappy")
    return {"exact": exact, "near_text": near, "near_vec": near_vec,
            "rows": {"documents": n_docs, "embeddings": n_vecs}}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
