"""End-to-end KG construction pipeline with per-stage checkpoint/resume.

Stage graph (all lazy DataFrames; each stage materializes to the warehouse
and records a checkpoint + per-partition metrics, so a killed job resumes
from the last complete stage — north_rule resumability):

  pages --repartition(url-hash)--> chunks
  chunks --one mapInPandas, pinned (cached until triples_raw)--> features
       (chunk_id, url, embedding, mentions[], triples[])
  features --select--> chunk_embeddings ; --inline--> mentions_raw ;
       --inline--> triples_raw   (JVM-only projections: triples are
       chunk-local, so they come out of the pass that finds the mentions,
       with no self-join and no shuffle; embed_backend="tfidf" embeds
       JVM-side instead and the pass skips the embedding)
  distinct names --alias-broadcast + LSH + CC--> name_map
  mentions_raw/triples_raw --broadcast remap--> mentions / triples
  mentions --groupBy--> nodes ; triples --groupBy--> edges
  mentions --projection--> provenance_edges
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.chunk import chunk_pages
from .operators.extract import chunk_features, embedding_rows, mention_rows, triple_rows
from .operators.materialize import build_edges, build_nodes, build_provenance_edges
from .operators.resolve import build_name_map, remap
from .sources.warehouse import Warehouse

STAGES = [
    "documents",
    "chunks",
    "chunk_embeddings",
    "mentions_raw",
    "triples_raw",
    "name_map",
    "mentions",
    "triples",
    "nodes",
    "edges",
    "provenance_edges",
]


# table layout for scale: low-cardinality dims get directory partitions
# (partition pruning on label / rel_type point queries); chunk-family tables
# get url-sorted files (parquet min/max stats -> file skipping on url) — or,
# with bucket_by_url > 0, url-hash bucketed tables (Iceberg bucket(N, url)
# analogue) so every url-keyed join/window downstream is shuffle-free.
_PARTITION_BY = {"nodes": ["label"], "edges": ["rel_type"]}
_SORT_WITHIN = {"chunks", "mentions", "mentions_raw", "triples", "triples_raw", "provenance_edges"}


def _stage_done(wh: Warehouse, stage: str, resume: bool) -> bool:
    return resume and wh.checkpoint_done(stage) and wh.exists(stage)


def _run_stage(
    wh: Warehouse,
    spark: SparkSession,
    stage: str,
    make,
    resume: bool,
    bucket_by_url: int = 0,
) -> None:
    if _stage_done(wh, stage, resume):
        return
    t0 = time.perf_counter()
    df = make()
    base = stage.split("__g")[0]
    if base in _SORT_WITHIN and bucket_by_url > 0 and "__g" not in stage:
        # bucketed writer repartitions on url + sorts within bucket itself
        wh.write_bucketed(df, stage, n_buckets=bucket_by_url, bucket_col="url")
    else:
        if base in _SORT_WITHIN:
            df = df.sortWithinPartitions("url")
        wh.write(df, stage, partition_by=_PARTITION_BY.get(stage))
    wall_ms = (time.perf_counter() - t0) * 1000
    rows = wh.log_partition_metrics(spark, stage, stage)
    wh.mark_checkpoint(stage, "complete", rows, wall_ms)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse_root: str,
    resume: bool = False,
    lang_filter: str | None = None,
    url_groups: int = 1,
    open_vocab: bool = False,
    bucket_by_url: int = 0,
    normalize_urls: bool = False,
    embed_backend: str = "hash",
) -> dict:
    """Run chunk -> extract -> resolve -> materialize; returns stats dict.

    lang_filter (e.g. "en") restricts ingestion to one language — the
    predicate lands in the parquet scan (PushedFilters), so skipped pages
    are never read.

    open_vocab adds the capitalized-span NER channel (corelib.ner) to the
    gazetteer extractor — the reference's LLM extractor is open-vocabulary
    (extractor.py:138-180), so on a real web corpus the name dictionary
    grows with the input and resolution runs its fully distributed LSH+CC
    path once it crosses session.DRIVER_MAX_ROWS distinct names.

    bucket_by_url > 0 writes the chunk-family tables as url-hash bucketed
    tables with that many buckets (Iceberg bucket(N, url) analogue, SURVEY
    §4.2.6): url-keyed joins and windows over them (provenance citations,
    next-chunk, chunk⋈mention families) then run with NO Exchange — at 100 TB
    that removes the dominant shuffle from every downstream graph query.
    Mutually inert with url_groups > 1 (group shards stay plain parquet).

    normalize_urls applies crawl URL canonicalization (functions/urlfns.py:
    fragment / case / www / default-port / tracking-param / trailing-slash)
    BEFORE the latest-crawl-wins dedup, so variant fetches of the same page
    (utm-tagged links, http/https, www/apex) collapse to ONE document —
    URL-level dedup, the first dedup tier of a crawl pipeline.

    embed_backend: "hash" (default — deterministic char-n-gram hashing, no
    fit step) or "tfidf" (corpus-trained IDF weighting, operators/
    embed_tfidf.py; fits on the deduped pages before the embed stage, and
    embeds JVM-only — no Arrow round-trip)."""
    if embed_backend not in ("hash", "tfidf"):
        raise ValueError(f"unknown embed_backend {embed_backend!r}")
    if lang_filter:
        pages = pages.where(F.col("lang") == lang_filter)
    if normalize_urls:
        from .functions.urlfns import canonical_url

        pages = pages.withColumn("url", canonical_url(F.col("url")))
    # re-crawled urls: latest crawl wins (reference upsert identity —
    # Document/SourceChunk MERGE by natural key, app/graph/queries.py:9-31;
    # deterministic tiebreak on the text, then md5(html) for html-only pages
    # with equal timestamps — same total order as corelib.oracle._key)
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"),
        F.desc(F.coalesce("text", F.lit(""))),
        F.desc(F.md5(F.coalesce(F.col("html"), F.lit(b"")))),
    )
    pages = (
        pages.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    wh = Warehouse(warehouse_root)
    if not resume:
        wh.reset_meta()
        for s in STAGES:
            wh.drop(s)
        import glob as _glob

        for shard in _glob.glob(wh.path("chunks__g*")):
            wh.drop(os.path.basename(shard))
    t_start = time.perf_counter()

    # documents dim table (reference A4: Document node per doc_id with audit
    # metadata, app/graph/queries.py:9-16 — here a projection of pages; the
    # latest-crawl window above already left one row per url)
    _run_stage(
        wh,
        spark,
        "documents",
        lambda: pages.select(
            "url",
            "warc_ts",
            "lang",
            F.length(F.coalesce("text", F.lit(""))).alias("text_chars"),
            F.isnull("text").alias("from_html"),
        ),
        resume, bucket_by_url=bucket_by_url)

    if url_groups <= 1:
        _run_stage(wh, spark, "chunks", lambda: chunk_pages(pages), resume, bucket_by_url=bucket_by_url)
    else:
        # per-partition-group checkpointing (north_rule): pages are processed
        # in url-hash groups, each materialized + checkpointed independently,
        # so a crash loses at most one group's work and restart anti-joins
        # completed groups (by skipping their checkpoints).
        for g in range(url_groups):
            grp = pages.where(F.pmod(F.xxhash64("url"), F.lit(url_groups)) == g)
            _run_stage(
                wh, spark, f"chunks__g{g}", lambda grp=grp: chunk_pages(grp), resume, bucket_by_url=bucket_by_url)
    chunks = wh.read(spark, "chunks")

    # one pinned Python pass yields embeddings, mentions and triples. It is
    # built on first use, so a resume that skips all three stages never runs
    # it, and the first stage's write fills it. A cache, not a
    # localCheckpoint, so it can be released right after triples_raw: py4j
    # frees a localCheckpoint's JVM handle only on Python's cyclic GC, and
    # its blocks stayed in the JVM heap until then (measured with
    # tools/heap_probe.py --mode pipeline).
    features = None

    def pinned_features() -> DataFrame:
        nonlocal features
        if features is None:
            features = chunk_features(
                chunks,
                open_vocab=open_vocab,
                with_embedding=embed_backend == "hash"
                and not _stage_done(wh, "chunk_embeddings", resume),
            ).persist()
        return features

    def make_embeddings():
        if embed_backend == "hash":
            return embedding_rows(pinned_features())
        # tfidf: fit on the deduped page corpus (only when the stage runs);
        # at larger scales pass a sample — IDF weights converge long before
        # the corpus is exhausted
        from .operators.embed import embed_chunks
        from .operators.embed_tfidf import fit_tfidf_embedder

        return embed_chunks(chunks, embedder=fit_tfidf_embedder(pages, "text"))

    try:
        _run_stage(wh, spark, "chunk_embeddings", make_embeddings, resume, bucket_by_url=bucket_by_url)
        _run_stage(
            wh, spark, "mentions_raw", lambda: mention_rows(pinned_features()), resume, bucket_by_url=bucket_by_url)
        _run_stage(
            wh, spark, "triples_raw", lambda: triple_rows(pinned_features()), resume, bucket_by_url=bucket_by_url)
    finally:
        if features is not None:
            features.unpersist()
    mentions_raw = wh.read(spark, "mentions_raw")
    triples_raw = wh.read(spark, "triples_raw")

    def make_name_map():
        # triples' subj/obj are mention names by construction (extract_chunk
        # pairs the chunk's mentions), so mentions_raw alone covers the
        # distinct-name dictionary — no need to scan triples_raw.
        return build_name_map(mentions_raw.select("name").distinct())

    _run_stage(wh, spark, "name_map", make_name_map, resume, bucket_by_url=bucket_by_url)
    name_map = wh.read(spark, "name_map")

    from .operators.materialize import dedup_mentions

    def make_mentions():
        return dedup_mentions(remap(mentions_raw, name_map, "name"))

    _run_stage(wh, spark, "mentions", make_mentions, resume, bucket_by_url=bucket_by_url)
    mentions = wh.read(spark, "mentions")

    _run_stage(
        wh, spark, "triples", lambda: remap(triples_raw, name_map, "subj", "obj"), resume, bucket_by_url=bucket_by_url)
    triples = wh.read(spark, "triples")

    _run_stage(wh, spark, "nodes", lambda: build_nodes(mentions), resume, bucket_by_url=bucket_by_url)
    _run_stage(wh, spark, "edges", lambda: build_edges(triples), resume, bucket_by_url=bucket_by_url)
    _run_stage(
        wh, spark, "provenance_edges", lambda: build_provenance_edges(mentions), resume, bucket_by_url=bucket_by_url)

    wall = time.perf_counter() - t_start
    # stage row counts from the checkpoint log (no extra count jobs)
    import json

    stats: dict = {}
    with open(wh._meta_path("_checkpoints")) as f:
        for line in f:
            rec = json.loads(line)
            if rec["status"] == "complete":
                stats[rec["stage"]] = rec["rows"]
    if url_groups > 1:
        stats["chunks"] = sum(
            stats.get(f"chunks__g{g}", 0) for g in range(url_groups)
        )
    stats["wall_sec"] = round(wall, 3)
    stats["triples_per_sec"] = round(stats["triples"] / wall, 2) if wall > 0 else None
    return stats
