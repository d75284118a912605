"""Structured Streaming ingestion variant (beyond-reference capability).

The reference is strictly batch (SURVEY.md §2.9). For continuously
arriving source files, the same chunk→extract→parse transformations run
unchanged over a file-source stream: every operator in this package is
expressed on DataFrames, so the streaming plan is the batch plan with a
readStream scan on top and a checkpointed parquet sink (so the stream
resumes exactly-once after a kill — the streaming analogue of the
manifest/resume contract).

Usage pattern (tested with Trigger.AvailableNow in
tests/test_streaming.py):

    q = stream_triples(spark, src_dir, ckpt, out_dir)
    q.awaitTermination()
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import chunker, extractor, parser
from ..sources.corpus import SOURCE_DDL, with_ingest_columns


def stream_triples(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    chunk_size: int = 500,
    chunk_unit: str = "sentence",
    backend_factory=extractor.RuleBasedBackend,
    available_now: bool = True,
):
    """readStream(json source rows) → chunk → extract → parse →
    parquet triples sink. Returns the StreamingQuery."""
    raw = (
        spark.readStream.schema(SOURCE_DDL)
        .option("maxFilesPerTrigger", 8)
        .json(source_dir)
    )
    src = with_ingest_columns(raw)
    chunks = chunker.chunk_documents(src, chunk_size, chunk_unit)
    responses = extractor.extract_responses(chunks, backend_factory)
    triples = parser.parse_responses(responses)
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
