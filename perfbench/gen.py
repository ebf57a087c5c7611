"""Seeded corpus generator for the operators workload.

Writes `documents` and `embeddings` parquet tables shaped like the project's
fixture tables (same schemas, value domains and planted structure), so the
operator queries and their DuckDB oracle run on inputs the benchmark owns:

- documents: a 30-word vocabulary, 10-100 words per document, 40 % `en` and
  15 % each of de/es/fr/zh, `source` = src<id % 20>, and 5 % near-duplicates
  (an earlier document's text with a trailing ` dup` marker);
- embeddings (read by the entity-resolution scoring): 64-dim unit gaussian
  vectors with a 0-9 label.

Usage: python3 perfbench/gen.py <out_dir> <n_docs> <n_embeddings> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_SLOTS = np.array([0] * 8 + [1] * 3 + [2] * 3 + [3] * 3 + [4] * 3)


def documents(rng, n):
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang = LANGS[LANG_SLOTS[rng.integers(0, 20, size=n)]]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    })


def generate(out_dir, n_docs, n_emb, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_emb), os.path.join(out_dir, "embeddings.parquet"))


if __name__ == "__main__":
    out, nd, ne, s = sys.argv[1:5]
    generate(out, int(nd), int(ne), int(s))
