"""Distributed extraction stage: one Arrow pass per chunk.

chunk_features runs the shared corelib.extract.extract_chunk (the oracle's
own function) and, for the hash embedding backend, the batch embedder
inside ONE Arrow-batched mapInPandas over (chunk_id, url, text). Per chunk
it yields the embedding, the chunk's mentions and the chunk's triples as
arrays of structs (the reference's per-chunk LLM call,
app/ingestion/extractor.py:138-180, replaced by a deterministic gazetteer
engine per SURVEY §2.I).

Relation extraction runs in the same pass because triples are chunk-local:
every triple pairs two mentions of one chunk, so deriving them where the
mentions are found needs no self-join and no shuffle. Parity with the
oracle is identity — the rows ARE extract_chunk's output.

The pipeline pins the feature frame once; mention_rows, triple_rows and
embedding_rows are JVM-only projections of that pin (inline / select).
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corelib.extract import extract_chunk
from .embed import _embed_matrix

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("start_char", T.IntegerType(), False),
        T.StructField("method", T.StringType(), False),
    ]
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("subj_label", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_label", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)

# per-chunk rows carry no provenance keys: the feature row holds them once
_MENTION_STRUCT = T.StructType(MENTION_SCHEMA.fields[2:])
_TRIPLE_STRUCT = T.StructType(TRIPLE_SCHEMA.fields[2:])


def _feature_schema(with_embedding: bool) -> T.StructType:
    fields = MENTION_SCHEMA.fields[:2]
    if with_embedding:
        fields = fields + [T.StructField("embedding", T.ArrayType(T.FloatType()), False)]
    return T.StructType(
        fields
        + [
            T.StructField("mentions", T.ArrayType(_MENTION_STRUCT), False),
            T.StructField("triples", T.ArrayType(_TRIPLE_STRUCT), False),
        ]
    )


def _features_fn(open_vocab: bool, with_embedding: bool):
    mention_row = itemgetter(*_MENTION_STRUCT.fieldNames())
    triple_row = itemgetter(*_TRIPLE_STRUCT.fieldNames())

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mentions, triples = [], []
            for cid, url, text in zip(pdf["chunk_id"], pdf["url"], pdf["text"]):
                ms, ts = extract_chunk(cid, url, text, open_vocab=open_vocab)
                mentions.append([mention_row(m) for m in ms])
                triples.append([triple_row(t) for t in ts])
            out = pdf[["chunk_id", "url"]]
            if with_embedding:
                vecs = _embed_matrix(pdf["text"]).astype(np.float32)
                out = out.assign(embedding=list(vecs))
            yield out.assign(mentions=mentions, triples=triples)

    return _features


def chunk_features(
    chunks: DataFrame, open_vocab: bool = False, with_embedding: bool = True
) -> DataFrame:
    """chunks -> (chunk_id, url, [embedding,] mentions, triples), one row
    per chunk, from one mapInPandas.

    mentions: array<struct<name, label, confidence, start_char, method>>,
    deduplicated on (name, label) with max confidence within the chunk
    (reference: entity_resolver.py:71-82). triples: array<struct<subj,
    subj_label, pred, obj, obj_label, confidence>>, deduplicated on (subj,
    pred, obj) with max confidence. Both are corelib.extract.extract_chunk's
    rows. embedding (with_embedding=True): array<float>[EMBED_DIM], the
    float32 cast of corelib.similarity.embed_name(text).

    open_vocab=True adds the corelib.ner capitalized-span channel
    (reference's LLM is open-vocabulary, extractor.py:138-180) — the name
    dictionary then grows with the corpus and resolution's distributed
    LSH+CC path becomes the production path. Empty chunks were already
    dropped by the chunker (extractor.py:176-177 semantics).

    Pin the frame (the pipeline caches it) and read it through the
    projections below, so the Python pass runs once."""
    return chunks.select("chunk_id", "url", "text").mapInPandas(
        _features_fn(open_vocab, with_embedding), schema=_feature_schema(with_embedding)
    )


def embedding_rows(features: DataFrame) -> DataFrame:
    """features -> (chunk_id, url, embedding): the chunk_embeddings table."""
    return features.select("chunk_id", "url", "embedding")


def mention_rows(features: DataFrame) -> DataFrame:
    """features -> mentions in MENTION_SCHEMA column order."""
    return features.select("chunk_id", "url", F.inline("mentions"))


def triple_rows(features: DataFrame) -> DataFrame:
    """features -> triples in TRIPLE_SCHEMA column order: (chunk_id, url,
    subj, subj_label, pred, obj, obj_label, confidence)."""
    return features.select("chunk_id", "url", F.inline("triples"))
