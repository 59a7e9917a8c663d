"""Seeded benchmark inputs.

Every input derives from the ``--seed`` argument alone, so the same seed
gives byte-identical inputs, and the program under test sees only the
staged files.
"""

from __future__ import annotations

import os
import random

# The sf-shaped synthetic documents table: 30 filler words, 10-100 words
# per doc, one doc in twenty a near-duplicate of an earlier one.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20


# How much content documents share: the sizes of the groups of texts
# that are equal up to the trailing " dup" marker in the sf0.1
# documents table (5,000 docs), measured there: 4,527 groups of one doc,
# 226 of two, 7 of three. Every distinct doc here gets as many copies as
# the size of a group drawn from these counts.
GROUP_SIZES = {1: 4527, 2: 226, 3: 7}


def copy_count(rng: random.Random) -> int:
    """Copies of one distinct doc, drawn from ``GROUP_SIZES``."""
    x = rng.random() * sum(GROUP_SIZES.values())
    for size, n in GROUP_SIZES.items():
        x -= n
        if x < 0:
            return size
    return max(GROUP_SIZES)


def documents(seed: int, total: int) -> tuple[dict, list[int]]:
    """Exactly ``total`` documents (doc_id, text, lang, source, n_chars):
    distinct docs, each appearing ``copy_count`` times under distinct,
    shuffled ids (the last one's copies cut to fit). Returns the columns
    and the copy count of every distinct doc."""
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    copies: list[int] = []
    while sum(copies) < total:
        i = len(texts)
        if i > 20 and rng.random() < 0.05:
            text = texts[int(rng.random() * i)] + " dup"
        else:
            n = 10 + int(rng.random() * 91)
            text = " ".join(VOCAB[int(rng.random() * len(VOCAB))] for _ in range(n))
        texts.append(text)
        copies.append(min(copy_count(rng), total - sum(copies)))
    rows = [t for t, k in zip(texts, copies) for _ in range(k)]
    rng.shuffle(rows)
    ids = list(range(len(rows)))
    return {
        "doc_id": ids,
        "text": rows,
        "lang": [LANGS[int(rng.random() * len(LANGS))] for _ in ids],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": [len(t) for t in rows],
    }, copies


def stage_documents(path_dir: str, cols: dict) -> str:
    """Write ``documents.parquet`` as one row group, the layout of the
    sf tables that ``__spark_entry__`` queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )
    path = os.path.join(path_dir, "documents.parquet")
    pq.write_table(table, path, row_group_size=len(table) or 1)
    return path
