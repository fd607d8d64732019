"""Cluster entrypoint for the KG construction pipeline.

Deployment shape per BASELINE.json: package the library and submit —

    zip -r mdkgs.zip medical_doc_knowledge_graph_system_spark/
    spark-submit --py-files mdkgs.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        scripts/run_pipeline.py \
        --pages s3://bucket/pages/ --warehouse s3://bucket/kg_warehouse/ [--resume]

On a cluster the SparkSession comes from spark-submit; locally this script
falls back to the tuned local builder.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages table path (parquet/Iceberg)")
    ap.add_argument("--warehouse", required=True, help="output warehouse root")
    ap.add_argument("--resume", action="store_true", help="resume from stage checkpoints")
    ap.add_argument("--cores", default=None, help="local-mode cores (ignored under spark-submit)")
    ap.add_argument("--lang", default=None, help="optional language filter (pushdown)")
    ap.add_argument(
        "--url-groups",
        type=int,
        default=1,
        help="ingest in N url-hash partition groups with per-group checkpoints",
    )
    ap.add_argument(
        "--open-vocab",
        action="store_true",
        help="add the capitalized-span NER channel to the gazetteer extractor",
    )
    ap.add_argument(
        "--bucket-by-url",
        type=int,
        default=0,
        help="write chunk-family tables url-hash bucketed into N buckets "
        "(Iceberg bucket(N,url) analogue; downstream url joins shuffle-free)",
    )
    ap.add_argument(
        "--embed-backend",
        choices=("hash", "tfidf"),
        default="hash",
        help="chunk-embedding featurizer: deterministic hash (default) or "
        "corpus-trained TF-IDF (fits IDF weights on the input pages)",
    )
    ap.add_argument(
        "--normalize-urls",
        action="store_true",
        help="canonicalize URLs before ingest dedup (variant fetches of one "
        "page — utm tags, www/apex, default ports — collapse to one document)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from medical_doc_knowledge_graph_system_spark.session import get_spark

        spark = get_spark(app_name="kg_pipeline", cores=args.cores)

    from medical_doc_knowledge_graph_system_spark.pipeline import run_pipeline

    pages = spark.read.parquet(args.pages)
    stats = run_pipeline(
        spark,
        pages,
        args.warehouse,
        resume=args.resume,
        lang_filter=args.lang,
        url_groups=args.url_groups,
        open_vocab=args.open_vocab,
        bucket_by_url=args.bucket_by_url,
        normalize_urls=args.normalize_urls,
        embed_backend=args.embed_backend,
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
