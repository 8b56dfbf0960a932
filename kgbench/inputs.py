"""Seeded generator for the pipeline's only input file, ``documents.parquet``.

The layout and vocabulary follow the repository's synthetic test data:
columns ``doc_id int64, text string, lang string, source string,
n_chars int64``; 10-100 words per document drawn from a 30-word technical
vocabulary; ``en`` for about 40 % of the documents and ``de``/``es``/``fr``/
``zh`` for the rest; 20 round-robin sources; about 5 % of the documents
repeat an earlier text with a ``dup`` token.

Document ids are distinct and drawn from the seed, because the pipeline
picks each document's entity mentions from an md5 of its id: the seed
therefore decides which entities get linked, and with them the triple set.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.05
ID_SPACE = 1 << 40


def make_documents(n_docs: int, seed: int) -> pa.Table:
    """``n_docs`` documents, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(ID_SPACE, size=n_docs, replace=False)).astype(np.int64)
    n_words = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    pos = 0
    for n in n_words:
        texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    # near-duplicates: a later document repeats an earlier text plus "dup"
    dups = np.flatnonzero(rng.random(n_docs) < DUP_SHARE)
    for i in dups[dups > 0]:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(path: str, n_docs: int, seed: int) -> None:
    pq.write_table(make_documents(n_docs, seed), path)
