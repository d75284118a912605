#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Cluster usage (north_rule: spark-submit --py-files on multi-executor
clusters):

    cd repo && zip -r /tmp/kg.zip knowledge_graph_creation_from_text_with_llms_spark
    spark-submit --py-files /tmp/kg.zip \
        --conf spark.sql.adaptive.enabled=true \
        scripts/run_pipeline.py \
        --input /data/source_parquet --catalog /data/kg_catalog \
        --chunk-size 500 --method exact --resume

Local smoke:

    python scripts/run_pipeline.py --input <parquet dir> --catalog /tmp/kg

The input must have the input_hint shape (repo, path, commit, lang,
content); ingest columns (content_sha256, doc_id) are derived when
absent. Stage selection (--stages) reproduces the reference's intended
single-phase modes (run.py:153 offers them but its dispatcher never
matches — we implement the intent, not the bug; SURVEY.md §3.1).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="KG construction pipeline")
    ap.add_argument("--input", required=True, help="source parquet path/table")
    ap.add_argument("--catalog", required=True, help="catalog root directory")
    ap.add_argument("--chunk-size", type=int, default=500)
    ap.add_argument("--chunk-unit", choices=["sentence", "word"], default="sentence")
    ap.add_argument("--method", choices=["exact", "cos_similarity", "mixed"],
                    default="exact", help="property linking strategy")
    ap.add_argument("--entity-dict", help="parquet path of entity alias dictionary")
    ap.add_argument("--property-dict", help="parquet path of property dictionary")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages already committed in the catalog manifest")
    ap.add_argument("--incremental", action="store_true",
                    help="process only source rows not yet in the catalog "
                         "(append per-row stages, rebuild global tables)")
    ap.add_argument("--no-verify", action="store_true",
                    help="skip the per-row sha256 invariant check")
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "jsonl", "json", "csv", "text"],
                    help="source table format (sources/corpus.read_source)")
    args = ap.parse_args()

    from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.session import (
        submit_session,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
        ParquetCatalog,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
        read_source,
        with_ingest_columns,
    )

    # the launcher provides the master and any --conf; the package
    # defaults fill only what it leaves unset
    spark = submit_session("kg-construct")

    if args.input_format == "parquet":
        source = spark.read.parquet(args.input)  # tolerate extra columns
        if "content_sha256" not in source.columns:
            source = with_ingest_columns(source)
    else:
        source = read_source(spark, args.input, args.input_format)

    entity_dict = spark.read.parquet(args.entity_dict) if args.entity_dict else None
    property_dict = (
        spark.read.parquet(args.property_dict) if args.property_dict else None
    )

    cat = ParquetCatalog(args.catalog, spark)
    pipe = KGPipeline(
        spark,
        cat,
        PipelineConfig(
            chunk_size=args.chunk_size,
            chunk_unit=args.chunk_unit,
            property_method=args.method,
        ),
        entity_dict=entity_dict,
        property_dict=property_dict,
    )
    counts = (
        pipe.run_incremental(source)
        if args.incremental
        else pipe.run(source, resume=args.resume)
    )
    ok = True if args.no_verify else pipe.verify_invariant()
    print(json.dumps({"counts": counts, "sha256_invariant": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
