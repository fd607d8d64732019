"""Distributed extraction stage.

Mention detection runs the shared corelib.extract scan inside an
Arrow-batched mapInPandas (the reference's per-chunk LLM call,
app/ingestion/extractor.py:138-180, replaced by a deterministic gazetteer
engine per SURVEY §2.I).

Relation extraction is NOT a Python loop: it is a relational composition —
  mentions ⋈ broadcast(REL_PATTERNS) ⋈ mentions  on (chunk_id, labels)
which Catalyst plans as a broadcast join + a co-partitioned self-join.
Equivalent to corelib.extract.extract_triples because a mention name
determines its confidence (surface form -> confidence is a function), so
max-over-pairs(min(c_s, c_o)) == min(max c_s, max c_o); pytest asserts
set-equality against the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corelib.extract import extract_chunk
from ..corelib.gazetteer import REL_PATTERNS
from ..session import literal_frame

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

_MCOLS = [f.name for f in MENTION_SCHEMA.fields]


def _mention_batches_fn(open_vocab: bool):
    def _mention_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for cid, url, text in zip(pdf["chunk_id"], pdf["url"], pdf["text"]):
                mentions, _ = extract_chunk(cid, url, text, open_vocab=open_vocab)
                rows.extend(mentions)
            yield pd.DataFrame(rows, columns=_MCOLS)

    return _mention_batches


def extract_mentions(chunks: DataFrame, open_vocab: bool = False) -> DataFrame:
    """chunks -> mentions(chunk_id, url, name, label, confidence, start_char, method).

    Within-chunk (name, label) dedup keeps max confidence (reference:
    entity_resolver.py:71-82). Empty chunks were already dropped by the
    chunker (extractor.py:176-177 semantics). open_vocab=True adds the
    corelib.ner capitalized-span channel (reference's LLM is open-vocabulary,
    extractor.py:138-180) — the name dictionary then grows with the corpus
    and resolution's distributed LSH+CC path becomes the production path.
    """
    return chunks.select("chunk_id", "url", "text").mapInPandas(
        _mention_batches_fn(open_vocab), schema=MENTION_SCHEMA
    )


def derive_triples(mentions: DataFrame) -> DataFrame:
    """mentions -> triples via broadcast pattern join + chunk-local self-join.

    Output: (chunk_id, url, subj, subj_label, pred, obj, obj_label, confidence)
    deduplicated on (chunk_id, subj, pred, obj) with max confidence —
    identical to corelib.extract.extract_triples per chunk.
    """
    spark = mentions.sparkSession
    patterns = literal_frame(
        spark, REL_PATTERNS, "src_label string, pred string, dst_label string"
    )
    s = mentions.select(
        "chunk_id",
        "url",
        F.col("name").alias("subj"),
        F.col("label").alias("subj_label"),
        F.col("confidence").alias("s_conf"),
    )
    o = mentions.select(
        F.col("chunk_id").alias("o_chunk_id"),
        F.col("url").alias("o_url"),
        F.col("name").alias("obj"),
        F.col("label").alias("obj_label"),
        F.col("confidence").alias("o_conf"),
    )
    # url joins alongside chunk_id — semantically redundant (chunk_id is a
    # pure function of (url, chunk_idx)) but it lets a url-bucketed
    # mentions_raw table co-locate this self-join with NO Exchange, and the
    # following groupBy's keys ⊇ {url} reuse the same partitioning
    return (
        s.join(F.broadcast(patterns), s.subj_label == patterns.src_label)
        .join(
            o,
            (F.col("chunk_id") == F.col("o_chunk_id"))
            & (F.col("url") == F.col("o_url"))
            & (F.col("obj_label") == F.col("dst_label"))
            & (F.col("subj") != F.col("obj")),
        )
        .groupBy("chunk_id", "url", "subj", "subj_label", "pred", "obj", "obj_label")
        .agg(F.max(F.least("s_conf", "o_conf")).alias("confidence"))
    )
