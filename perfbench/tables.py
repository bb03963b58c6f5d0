"""Seeded stand-ins for the driver's ``documents`` and ``embeddings``
tables, which the curation leaves of ``__spark_entry__`` read.

The shapes follow the driver tables at every scale factor: 500 documents
of words drawn from a small vocabulary (so shingle-based dedup finds
overlap), five languages, twenty round-robin sources, ``n_chars`` equal
to the text length; 500 unit-norm 64-d float32 embeddings with ten
labels. One document in twenty is a planted near-copy (one word
replaced) of an earlier long one, so the dedup leaves have pairs to
find, all at Jaccard >= 0.9 where their LSH recall is ~1. Each table is
written as ONE parquet file, as the driver's are, so the leaves'
single-split spread rule fires.
"""

from __future__ import annotations

import os

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.386, 0.164, 0.16, 0.148, 0.142]
N_DOCS = 500
N_VECS = 500
DIM = 64
NEAR_COPIES = 25


def documents(seed: int):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    texts = [list(rng.choice(VOCAB, n)) for n in rng.integers(9, 100, N_DOCS)]
    long_ids = [i for i in range(N_DOCS // 2) if len(texts[i]) >= 80]
    for j, src in zip(rng.choice(np.arange(N_DOCS // 2, N_DOCS), NEAR_COPIES, replace=False),
                      rng.choice(long_ids, NEAR_COPIES, replace=False)):
        words = list(texts[src])
        words[rng.integers(len(words))] = "dup"
        texts[j] = words
    texts = [" ".join(w) for w in texts]
    ids = np.arange(N_DOCS, dtype="int64")
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(seed: int):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed + 1)
    x = rng.standard_normal((N_VECS, DIM)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": list(x),
        "label": rng.integers(0, 10, N_VECS).astype("int32"),
    })


def write(out_dir: str, seed: int) -> dict[str, int]:
    """Write both tables under ``out_dir`` as ``<name>.parquet``; returns
    their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schemas = {
        "documents": pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
        "embeddings": pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    }
    rows = {}
    for name, make in (("documents", documents), ("embeddings", embeddings)):
        pdf = make(seed)
        table = pa.Table.from_pandas(pdf, schema=schemas[name], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
