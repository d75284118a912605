"""Extractor: the shipped mapInPandas path must return exactly what the
backend returns per row, with every non-text column carried through
(reference prompt/response contract: TripleGenerator.py:117-164)."""

import pytest

from knowledge_graph_creation_from_text_with_llms_spark.operators.extractor import (
    RuleBasedBackend,
    extract_responses,
)


def _shipped_vs_backend(spark, texts):
    """Batched equivalence: extract_responses(…, RuleBasedBackend) ==
    RuleBasedBackend._one per row, byte-for-byte."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: r.response
        for r in extract_responses(df, RuleBasedBackend).collect()
    }
    assert len(got) == len(texts)
    backend = RuleBasedBackend()
    for i, t in enumerate(texts):
        assert got[i] == backend._one(t), (i, repr((t or "")[:80]))


def test_extract_responses_matches_backend_adversarial(spark):
    texts = [
        "",
        " ",
        None,
        "x",
        "a b",
        "a b c",
        "A B C",
        "hello, world! 42 times",
        "...!!!???",
        "1 2 3 4 5",
        "tabs\tand\nnewlines split tokens",
        "punct-uation_splits.tokens,too",
        "UPPER lower MiXeD",
        "x" * 500,
        ("word " * 300).strip(),
        "unicode ß straße İstanbul Σigma naïve",
        "nbsp separated tokens",
        "emoji 🙂 between 🚀 tokens",
        "digits007 mix3d t0kens",
        "   leading and trailing   ",
        "single.",
        "a",
        "0",
        "-",
    ]
    _shipped_vs_backend(spark, texts)


def test_extract_responses_matches_backend_fuzz(spark):
    """Deterministic fuzz over a mixed ascii/unicode alphabet (token
    boundary + case-mapping decision space)."""
    import random

    rng = random.Random(43)
    alphabet = list(
        "abcXYZ012 .,!?-_\t\n ßİΣKÅ"
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 300)))
        for _ in range(400)
    ]
    _shipped_vs_backend(spark, texts)


def test_extract_responses_matches_backend_reference_corpus(spark):
    import glob
    import os

    if not os.path.isdir("/root/reference"):
        pytest.skip("reference repo not available")
    texts = []
    for p in sorted(glob.glob("/root/reference/**/*.txt", recursive=True))[:200]:
        t = open(p, encoding="utf-8", errors="replace").read()
        if t.strip():
            texts.append(t)
    assert len(texts) >= 50
    _shipped_vs_backend(spark, texts)


def test_extract_responses_passes_columns_through(spark):
    """Every non-text column passes through in order, `response
    string` comes last, and each row's response is the backend's."""
    src = spark.createDataFrame(
        [
            ("d1", 1, "h1", "alpha beta gamma"),
            ("d1", 2, "h1", ""),
            ("d2", 1, "h2", "Solo"),
            ("d3", 1, "h3", "x y z w v"),
            ("d4", 1, "h4", None),
        ],
        "doc_id string, chunk_id int, content_sha256 string, text string",
    )
    out = extract_responses(src, RuleBasedBackend)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("doc_id", "string"),
        ("chunk_id", "int"),
        ("content_sha256", "string"),
        ("response", "string"),
    ]
    backend = RuleBasedBackend()
    want = sorted(
        (d, c, h, backend._one(t)) for d, c, h, t in map(tuple, src.collect())
    )
    assert sorted(map(tuple, out.collect())) == want


def test_pipeline_stage_responses_runs_configured_backend(spark, tmp_path):
    """stage_responses feeds chunks to PipelineConfig.backend_factory
    (RuleBasedBackend by default) through the mapInPandas path."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators.extractor import (
        ReplayBackend,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    chunks = spark.createDataFrame(
        [("d1", 1, "h1", "alpha beta gamma"), ("d2", 1, "h2", "x y")],
        "doc_id string, chunk_id int, content_sha256 string, text string",
    )

    def responses(cfg):
        pipe = KGPipeline(spark, ParquetCatalog(str(tmp_path), spark), cfg)
        return {r.doc_id: r.response for r in pipe.stage_responses(chunks).collect()}

    assert responses(PipelineConfig()) == {
        "d1": "1. (alpha, precedes, beta)\n2. (beta, precedes, gamma)",
        "d2": "1. (x, precedes, y)",
    }
    replay = {"x y": "1. (x, is, y)"}
    assert responses(
        PipelineConfig(backend_factory=lambda: ReplayBackend(replay))
    ) == {"d1": "", "d2": "1. (x, is, y)"}
