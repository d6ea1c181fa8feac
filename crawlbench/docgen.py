"""Seeded ``documents`` table for the curation workload.

Mirrors the shape of the sf0.1 test-data ``documents`` table (5,000 rows of
``doc_id, text, lang, source, n_chars``; a 30-word vocabulary; 10-100
words per document; 250 near-duplicates that repeat an earlier document
plus the marker word ``dup``; a handful of exact copies), so the curation
queries see the same selectivities: the near-duplicate count is exactly
the ``n // 20`` document-frequency cap ``tfidf_cosine_pairs`` applies,
which keeps the marker term in its candidate set as it is at sf0.1.

Written as one parquet file with a single row group, as the test-data
tables are, so ``_read_adaptive``'s repartition path is the one measured.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (40, 15, 15, 15, 15)
N_SOURCES = 20


def generate_documents(seed: int, n_docs: int = 5000) -> pa.Table:
    rng = random.Random(seed)
    n_near, n_exact = n_docs // 20, 8
    copies = rng.sample(range(100, n_docs), n_near + n_exact)
    near, exact = set(copies[:n_near]), set(copies[n_near:])
    texts: list[str] = []
    originals: list[int] = []  # indices of documents that are not copies
    for i in range(n_docs):
        if i in near:
            texts.append(texts[rng.choice(originals)] + " dup")
        elif i in exact:
            texts.append(texts[rng.choice(originals)])
        else:
            words = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(words)))
            originals.append(i)
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n_docs)
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, out_dir: str, n_docs: int = 5000) -> str:
    """Write ``{out_dir}/documents.parquet`` (one row group); returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    table = generate_documents(seed, n_docs)
    pq.write_table(
        table, os.path.join(out_dir, "documents.parquet"), row_group_size=n_docs
    )
    return out_dir
