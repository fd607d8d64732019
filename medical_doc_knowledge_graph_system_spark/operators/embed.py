"""Embedding stage: deterministic text embeddings.

The reference embeds chunks with MiniLM-L6-v2 (app/rag/embeddings.py:41-54,
384-d, L2-normalized, stored as a node property). Model downloads are
unavailable here, so the engine uses the deterministic char-n-gram hashing
embedding from corelib.similarity (SURVEY §7.3.5) — the semantics under test
("cosine >= threshold => related") are preserved. _embed_matrix is the
batch kernel; it runs inside extract.chunk_features' mapInPandas, the one
Python pass per chunk, so swapping in a real model is a change to that
kernel (the pass already sees whole Arrow batches, the shape a torch model
needs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..corelib.similarity import EMBED_DIM, _gram_feature


# A Unicode code point fits in 21 bits, so one 3-gram packs into an int64.
_CP_BITS = 21
_CP_MASK = (1 << _CP_BITS) - 1
# code of the one gram shorter than 3 chars: "  ", the padded empty text
_SHORT_GRAM = -1


def _embed_matrix(texts) -> np.ndarray:
    """embed_name over a batch as an (n, EMBED_DIM) float64 matrix,
    bit-identical row for row (r6, guide §4.2: hand whole batches to NumPy
    instead of looping in Python).

    The batch's padded texts (char_ngrams' f" {t.lower().strip()} ") are
    concatenated into one UTF-32 code-point array; every 3-gram packs into
    an int64, np.unique keeps the distinct (row, gram) pairs, the md5
    feature runs once per distinct gram, and one bincount fills the matrix.

    Identity argument: embed_name accumulates ±1.0 per DISTINCT gram into a
    float64 vector — every intermediate is a small integer, exact in
    float64, so the accumulation ORDER cannot matter; the squared norm is a
    sum of exact integer squares; only the final division produces
    non-integers, and it is the same scalar division per component
    (pinned by tests/test_embed_vectorized_parity)."""
    padded = [f" {(t or '').lower().strip()} " for t in texts]
    n = len(padded)
    if n == 0:
        return np.zeros((0, EMBED_DIM))
    lens = np.fromiter(map(len, padded), dtype=np.int64, count=n)
    cps = np.frombuffer(
        "".join(padded).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    n_grams = np.maximum(lens - 2, 0)
    rows = np.repeat(np.arange(n), n_grams)
    # position of each gram's first char: its row's start + its index in the row
    first = np.arange(len(rows)) + np.repeat(
        np.cumsum(lens) - lens - (np.cumsum(n_grams) - n_grams), n_grams
    )
    codes = (cps[first] << 2 * _CP_BITS) | (cps[first + 1] << _CP_BITS) | cps[first + 2]
    short = np.flatnonzero(n_grams == 0)
    rows = np.concatenate([rows, short])
    codes = np.concatenate([codes, np.full(len(short), _SHORT_GRAM)])
    grams, gram_of = np.unique(codes, return_inverse=True)
    row, gram = np.divmod(np.unique(rows * len(grams) + gram_of), len(grams))
    idx = np.empty(len(grams), dtype=np.int64)
    sign = np.empty(len(grams))
    for i, c in enumerate(grams.tolist()):
        g = "  " if c == _SHORT_GRAM else (
            chr(c >> 2 * _CP_BITS) + chr(c >> _CP_BITS & _CP_MASK) + chr(c & _CP_MASK)
        )
        idx[i], sign[i] = _gram_feature(g, EMBED_DIM)
    vecs = np.bincount(
        row * EMBED_DIM + idx[gram], weights=sign[gram], minlength=n * EMBED_DIM
    ).reshape(n, EMBED_DIM)
    nrm = np.sqrt((vecs * vecs).sum(axis=1))
    return vecs / np.where(nrm > 0, nrm, 1.0)[:, None]


def _embed_batch(texts: pd.Series) -> pd.Series:
    """embed_name over a batch, one list of floats per row."""
    return pd.Series(_embed_matrix(texts).tolist())


def embed_chunks(chunks: DataFrame, embedder=None) -> DataFrame:
    """chunks -> (chunk_id, url, embedding array<float>[EMBED_DIM]).

    `embedder`: optional corpus-trained backend (operators.embed_tfidf
    .TfidfEmbedder, VERDICT r4 #3) — same output schema and unit-norm
    contract, JVM-only plan (no Arrow round-trip). Default stays the
    deterministic hash featurizer, which needs no fit step; it is the
    embedding column of extract.chunk_features (the pipeline reads it from
    its pinned feature frame instead of calling this)."""
    if embedder is not None:
        return embedder.embed(chunks, text_col="text").select(
            "chunk_id", "url", "embedding"
        )
    # local import: extract imports _embed_matrix from this module
    from .extract import chunk_features, embedding_rows

    return embedding_rows(chunk_features(chunks))


__all__ = ["EMBED_DIM", "embed_chunks"]
