"""Seeded generator of the ``documents`` table the textops entries read.

Writes ``<out_dir>/documents.parquet`` with the testdata schema
(``doc_id, text, lang, source, n_chars``): word-salad texts of 10-100
words over a small vocabulary, a language per source, and a share of
near-duplicates (an earlier text with a few words replaced, tagged
``dup``) plus a few exact copies, so the dedup entries find pairs.
The same seed gives the same table.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
SOURCES = 20


def generate(out_dir: str, seed: int, docs: int) -> dict:
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    source = [i % SOURCES for i in range(docs)]
    table = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[s % len(LANGS)] for s in source],
        "source": [f"src{s}" for s in source],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return {"docs": docs, "mb": round(os.path.getsize(path) / 2**20, 3)}
