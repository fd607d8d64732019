"""Distributed chunking stage: pages -> chunks via Arrow-batched mapInPandas.

The per-row logic is corelib.textproc.chunk_page — the exact function the
oracle runs — so extracted chunk text is byte-identical per url by
construction (input_hint invariant). No per-row Python UDFs: mapInPandas
processes whole Arrow batches (input_hint hard requirement).

Reference parity: app/ingestion/chunker.py:34-138 (section split + sliding
window 600/80 + sha256 chunk ids) adapted to web pages per SURVEY §2.B1-B4.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corelib.textproc import chunk_page

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("section", T.StringType(), False),
        T.StructField("start_char", T.IntegerType(), False),
        T.StructField("end_char", T.IntegerType(), False),
    ]
)

_COLS = [f.name for f in CHUNK_SCHEMA.fields]


def _make_chunk_batches(strategy: str):
    def _chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if strategy == "soap":
            from ..corelib.soap import chunk_soap_note

        for pdf in batches:
            rows: list[dict] = []
            htmls = pdf["html"] if "html" in pdf.columns else [None] * len(pdf)
            for url, text, html in zip(pdf["url"], pdf["text"], htmls):
                if strategy == "soap":
                    rows.extend(chunk_soap_note(text or "", url))
                else:
                    rows.extend(chunk_page(url, text, html))
            yield pd.DataFrame(rows, columns=_COLS)

    return _chunk_batches


def chunk_pages(pages: DataFrame, strategy: str = "web") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> chunks DataFrame.

    Repartitions on url-hash first (north_rule: explicit repartitioning on
    url-hash) so a page's chunks are colocated for extraction and the
    byte-identity check never shuffles text.

    strategy="web" (default): boilerplate strip + paragraph/window chunking.
    strategy="soap": the reference's SOAP-section-aware chunker
    (corelib.soap) for users migrating reference inputs verbatim.
    """
    from .skew import shuffle_width

    cols = ["url", "text"] + (["html"] if "html" in pages.columns else [])
    selected = pages.select(*cols)
    # probe-free repartition target: the cluster-tuned shuffle width (pages
    # may carry exchanges — the re-crawl dedup window — and an .rdd partition
    # probe under AQE would execute those stages twice)
    n = shuffle_width(pages.sparkSession, factor=2)
    return (
        selected
        .repartition(n, F.xxhash64("url"))
        .mapInPandas(_make_chunk_batches(strategy), schema=CHUNK_SCHEMA)
    )
