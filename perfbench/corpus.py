"""Seeded `documents` corpus for the query_mix workload.

Same shape as the engine's document fixtures: doc_id, text, lang,
source, n_chars. Texts draw from one 31-word pool, one doc in twenty is a
near-duplicate of an earlier doc (its text plus " dup"), so the dedup and
language-id paths have real work to do.
"""

from __future__ import annotations

import os
import random

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
N_SOURCES = 20


def write_documents(out_dir: str, n_docs: int, seed: int) -> str:
    """Write ``documents.parquet`` under ``out_dir``; return the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            n = rng.randint(10, 99)
            texts.append(" ".join(rng.choice(WORDS) for _ in range(n)))
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return path
