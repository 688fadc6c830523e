"""Seeded `documents` / `embeddings` tables for the llm-prep workload.

Same schemas and value shapes as the registry's fixtures: word-salad text
over a small vocabulary with a share of near and exact duplicates, five
languages, twenty sources; unit-norm 64-dim float vectors with ten labels.
The same seed and size give byte-identical parquet files.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en"] * 11 + ["zh", "es", "fr", "de"] * 4  # ~41% "en", as in the fixtures
DIM = 64


def generate(seed, out_dir, n_docs, n_vecs):
    """Write documents.parquet and embeddings.parquet; return their bytes."""
    rnd = random.Random("llm-prep:%d" % seed)
    texts, langs = [], []
    for i in range(n_docs):
        r = rnd.random()
        if i > 0 and r < 0.05:
            text = texts[rnd.randrange(i)] + " dup"   # near duplicate
        elif i > 0 and r < 0.053:
            text = texts[rnd.randrange(i)]            # exact duplicate
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 100)))
        texts.append(text)
        langs.append(rnd.choice(LANGS))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
