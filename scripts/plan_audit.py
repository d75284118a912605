#!/usr/bin/env python
"""Dump the physical-plan evidence for the headline operators to
BENCH/PLANS.md: which joins broadcast, where pushdown reaches the
scan, which stages are whole-stage-codegen, and where the only
Python (Arrow) stages are. tests/test_plans.py asserts the same
invariants; this script makes them reviewable."""

from __future__ import annotations

import os
import re
import sys

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from knowledge_graph_creation_from_text_with_llms_spark import gate, get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDIT = [
    ("kg_link_entities", "dictionary link: BroadcastHashJoin on the alias dict"),
    ("kg_edges", "edge build: partial-agg groupBy, URI mint after dedup"),
    ("dedup_minhash_lsh", "LSH capped: window bucket count below collect_list, ONE band-key exchange"),
    ("dedup_simhash", "simhash: 16 conditional sums in one groupBy, one exchange, no explode"),
    ("ann_topk_bruteforce", "ANN: broadcast queries + Arrow partial top-k"),
    ("text_quality", "scalar family: one codegen stage, no exchange"),
    ("corpus_split", "hash split: map-only, no exchange"),
    ("events_asof_join", "as-of join: union + key window (struct carry), no range join"),
    ("events_funnel", "single-pass funnel, 3 stages: one user-key exchange, linear aggregate fold"),
    ("events_funnel_deep", "single-pass funnel, 5 stages: still one user-key exchange, linear aggregate fold"),
    ("kg_pagerank_dangling", "pagerank: bounded-round joins, 1-row dangling-mass broadcast"),
    ("dedup_ngram_jaccard_incremental", "incremental jaccard: prefix x posting joins, no cross product"),
    ("dedup_duplicate_spans", "span dedup: ONE gram-md5 exchange serves both window counts, doc exchange for island merge, no join"),
    ("dedup_span_removal", "span removal: bounded per-doc span array, doc-keyed join, map-side HOF cut"),
    ("dedup_duplicate_spans_incremental", "incremental spans: semi-join-bounded index probes, no cross product"),
]

MARKS = (
    "BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct", "Exchange", "AQEShuffleRead", "HashAggregate",
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PushedFilters",
    "ReadSchema", "Window ", "LocalTableScan",
)


def skeleton(plan: str, max_lines: int = 40) -> str:
    """Keep only the structurally interesting lines."""
    out = []
    for line in plan.splitlines():
        if any(m in line for m in MARKS) or re.match(r"^\s*\*\(\d+\)", line):
            out.append(line.rstrip()[:120])
        if len(out) >= max_lines:
            out.append("  ... (truncated)")
            break
    return "\n".join(out)


def main() -> None:
    spark = get_spark("plan-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    parts = [
        "# Physical-plan evidence (generated by scripts/plan_audit.py)",
        "",
        f"Scale factor dir: `{SF}`. Plans are FINAL (AQE resolved by",
        "executing each query first). The same invariants are asserted",
        "in `tests/test_plans.py`; skeletons below keep only join /",
        "exchange / codegen / Python-stage / scan lines.",
        "",
    ]
    for name, why in AUDIT:
        df = gate.QUERIES[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        # re-derive on the executed df's QE for the final adaptive plan
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        parts += [f"## {name}", "", f"{why}.", "", "```", skeleton(plan), "```", ""]

    # The pipeline's text path (chunk → extract → parse) is not a gate
    # query: its Arrow-batched pandas chunker and extractor must never
    # plan a row-at-a-time BatchEvalPython node (pinned by
    # tests/test_plans.py::test_pipeline_text_path_engine_plans).
    import tempfile

    from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
        ParquetCatalog,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
        documents_as_source,
    )

    with tempfile.TemporaryDirectory() as d:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        pipe = KGPipeline(
            spark, ParquetCatalog(d, spark),
            PipelineConfig(chunk_size=120, chunk_unit="word"),
        )
        chain = pipe.stage_triples_raw(
            pipe.stage_responses(pipe.stage_chunks(documents_as_source(docs)))
        )
        chain.write.format("noop").mode("overwrite").save()
        plan = chain._jdf.queryExecution().executedPlan().toString()
        parts += [
            "## pipeline text path (chunk → extract → parse)",
            "",
            "Arrow-batched pandas chunker + extractor (the extractor measured"
            " 3.7-3.9x faster than a JVM expression twin, since deleted;"
            " BENCH/engine_ab.jsonl); no row-at-a-time python anywhere.",
            "",
            "```",
            skeleton(plan),
            "```",
            "",
        ]
    out_path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("\n".join(parts))
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
