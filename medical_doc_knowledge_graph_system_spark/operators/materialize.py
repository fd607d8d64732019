"""Graph materialization: resolved mentions/triples -> nodes & edges tables.

Replaces the reference's per-label Cypher MERGE sinks
(app/graph/queries.py:9-181, dispatched from app/ingestion/graph_writer.py)
with set-based DataFrame aggregation:

  nodes(node_id, label, name, n_mentions, max_confidence)
      upsert identity = (label, name), matching the reference's per-label
      uniqueness constraints (app/graph/schema_setup.py:18-28).
  edges(src, dst, rel_type, n_occurrences, confidence)
      from triples via two equi-joins to nodes (C5) — here computed directly
      because node_id is a pure function of (label, name), so no join needed:
      the endpoint-resolution joins of queries.py:118-170 constant-fold away.
  SOURCED_FROM provenance edges (A8) are a projection of mentions: entity
      node -> chunk_id with confidence + method (queries.py:174-181).

Node and edge counts are one groupBy().agg() each. Entity name frequency is
Zipf-skewed, but count and max are algebraic: map-side partial aggregation
ships at most one row per hot key per map task, so no salt is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def node_id(label_col, name_col):
    """Stable node identity: sha256(label::name)[:16] — same id on every run
    and every partition (pure function, no monotonically_increasing_id)."""
    return F.substring(F.sha2(F.concat_ws("::", label_col, name_col), 256), 1, 16)


def dedup_mentions(remapped: DataFrame) -> DataFrame:
    """Post-resolution within-chunk (name, label) dedup keeping the max-
    confidence row, ties broken by min start_char — the same total order the
    oracle uses (reference: entity_resolver.py:71-82)."""
    best = F.max(
        F.struct(
            F.col("confidence"),
            (-F.col("start_char")).alias("neg_start"),
            F.col("method"),
        )
    )
    return (
        remapped.groupBy("chunk_id", "url", "name", "label")
        .agg(best.alias("b"))
        .select(
            "chunk_id",
            "url",
            "name",
            "label",
            F.col("b.confidence").alias("confidence"),
            (-F.col("b.neg_start")).cast("int").alias("start_char"),
            F.col("b.method").alias("method"),
        )
    )


def build_nodes(mentions: DataFrame) -> DataFrame:
    """Resolved mentions -> one row per (label, name)."""
    return mentions.groupBy("label", "name").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.max("confidence").alias("max_confidence"),
    ).select(
        node_id(F.col("label"), F.col("name")).alias("node_id"),
        "label",
        "name",
        "n_mentions",
        "max_confidence",
    )


def build_edges(triples: DataFrame) -> DataFrame:
    """Resolved triples -> aggregated typed edges between node ids."""
    return triples.groupBy("subj", "subj_label", "pred", "obj", "obj_label").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("confidence").alias("confidence"),
    ).select(
        node_id(F.col("subj_label"), F.col("subj")).alias("src"),
        node_id(F.col("obj_label"), F.col("obj")).alias("dst"),
        F.col("pred").alias("rel_type"),
        "subj",
        "subj_label",
        "obj",
        "obj_label",
        "n_occurrences",
        "confidence",
    )


def build_provenance_edges(mentions: DataFrame) -> DataFrame:
    """SOURCED_FROM edges: entity node -> chunk (reference A8,
    queries.py:174-181). A projection — mentions already carry chunk_id."""
    return mentions.select(
        node_id(F.col("label"), F.col("name")).alias("src"),
        F.col("chunk_id").alias("dst"),
        F.lit("SOURCED_FROM").alias("rel_type"),
        "name",
        "label",
        "confidence",
        F.col("method").alias("extraction_method"),
        "url",
    )
