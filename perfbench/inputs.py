"""Seeded documents tables for the graph and dedup leaves: the shape of the
gate fixture's documents table, and the scaled replica rule of
tools/make_scaled_sf.py.

Everything here is a pure function of (size, seed); no input is cached
between runs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary of the documents table the gate queries read
VOCAB = (
    "join scan filter sort merge agg window group hash table row column key "
    "vector line part spark stream batch query fast slow small big data value "
    "order customer a the"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# the perturbation vocabulary of tools/make_scaled_sf.py
_PERTURB = [
    "join", "scan", "filter", "sort", "merge", "agg", "window", "group", "hash",
    "table", "row", "column", "key", "vector", "line", "part", "spark", "stream",
    "batch", "query", "fast", "slow", "small", "big", "data", "value", "order",
    "customer", "a", "dim", "fact",
]


def documents(n_docs: int, seed: int) -> dict[str, list]:
    """Columns of a documents table shaped like the gate fixture: 10-99
    tokens over VOCAB per doc, and every twentieth doc a near-copy of a
    seeded earlier doc (one token swapped, " dup" appended) so dedup has
    pairs. The seed picks the words, the order of the doc lengths and the
    copied docs; the multiset of lengths and the number of copies are the
    same for every seed, so every seed gives about the same work."""
    rng = np.random.default_rng(seed)
    lengths = rng.permutation([10 + i % 90 for i in range(n_docs)])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 19:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks[:99]) + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i])))
    langs = [_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)]
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def replicate(cols: dict[str, list], copies: int) -> dict[str, list]:
    """K offset copies of a documents table, copy k > 0 perturbed by one
    token per doc — the rule of tools/make_scaled_sf.py."""
    n = max(cols["doc_id"]) + 1
    out: dict[str, list] = {k: [] for k in cols}
    for k in range(copies):
        for did, text, lang, src in zip(cols["doc_id"], cols["text"], cols["lang"], cols["source"]):
            if k > 0:
                toks = text.split(" ")
                toks[(did * 31 + k * 7) % len(toks)] = _PERTURB[(did + k * 13) % len(_PERTURB)]
                text = " ".join(toks)
            out["doc_id"].append(did + n * k)
            out["text"].append(text)
            out["lang"].append(lang)
            out["source"].append(src)
            out["n_chars"].append(len(text))
    return out


def write_documents(sf_dir: str, cols: dict[str, list]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
