"""Seeded corpus generator: the documents table as parquet.

``write_corpus(out_dir, seed)`` is a pure function of its arguments:
the same seed writes a byte-identical parquet file, whose md5 digest
each run records.  The schema matches the harness's ``documents`` table,
the only table the shingle-dedup queries and their DuckDB oracles read.

The table carries the two properties the shingle queries depend on:
clusters of near-duplicate documents (a base text with a few words
substituted), so the candidate join finds pairs, and a few stop phrases
repeated across many documents, so some shingles are hot and the
document-frequency cap engages.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents",)

# The DuckDB oracles of the shingle queries pair every two documents, so
# their cost is quadratic in N_DOCS.
N_DOCS = 200

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
HOT_PHRASES = ["the big data", "spark sort merge join", "a fast hash agg"]


def _documents(rng: np.random.Generator) -> pa.Table:
    """Documents whose shape is the same for every seed: lengths, which
    documents carry each stop phrase, and the near-duplicate clusters
    (sizes, edit counts, truncations) are fixed, and the seed picks the
    words and positions.  The shingle queries then do about the same
    work on every seed."""
    n_base = N_DOCS * 2 // 3
    texts: list[str] = []
    for i in range(n_base):
        n = 30 + (i * 37) % 80
        words = [WORDS[j] for j in rng.integers(0, len(WORDS), n)]
        # The first stop phrase lands in over MAX_SHINGLE_DF documents.
        for phrase, tenths in zip(HOT_PHRASES, (8, 2, 2)):
            if (i * 7 + len(phrase)) % 10 < tenths:
                at = int(rng.integers(0, len(words) + 1))
                words[at:at] = phrase.split()
        texts.append(" ".join(words))
    # Near-duplicate clusters: base document b gets b % 3 + 1 copies,
    # each with 0-3 words substituted and every fifth one truncated.
    b = 0
    while len(texts) < N_DOCS:
        src = texts[b].split()
        for _ in range(b % 3 + 1):
            if len(texts) >= N_DOCS:
                break
            words = list(src)
            for _ in range(len(texts) % 4):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            if len(texts) % 5 == 0:
                words = words[: int(len(words) * 0.8)]
            texts.append(" ".join(words))
        b += 1
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(out_dir: str, seed: int) -> str:
    """Write ``out_dir/documents.parquet``; return its md5 digest."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(_documents(np.random.default_rng(seed)), path, compression="snappy")
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()
