"""Structured Streaming variant: same transformations over a file
stream, exactly-once via checkpoint (Trigger.AvailableNow)."""

import json
import os

from knowledge_graph_creation_from_text_with_llms_spark.streaming.stream import (
    stream_triples,
)


def _write_batch(src_dir, batch_id, docs):
    os.makedirs(src_dir, exist_ok=True)
    path = os.path.join(src_dir, f"batch_{batch_id}.json")
    with open(path, "w", encoding="utf-8") as f:
        for i, text in enumerate(docs):
            f.write(
                json.dumps(
                    {
                        "repo": "r",
                        "path": f"b{batch_id}/f{i}.txt",
                        "commit": "c" * 40,
                        "lang": "text",
                        "content": text,
                    }
                )
                + "\n"
            )


def test_stream_chunks_and_extracts(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _write_batch(src, 0, ["alpha beta gamma delta.", "one two three four."])

    q = stream_triples(spark, src, ckpt, out, chunk_size=500)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0
    assert set(first.columns) >= {"doc_id", "chunk_id", "subj", "pred", "obj"}

    # second micro-batch: only NEW files processed (checkpoint dedup)
    _write_batch(src, 1, ["five six seven eight."])
    q2 = stream_triples(spark, src, ckpt, out, chunk_size=500)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1 + 3  # 4 tokens → 3 bigram triples, batch 0 not redone
