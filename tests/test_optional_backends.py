"""Compile/construct smoke coverage for the import-gated real
backends (VERDICT r2 #7): these paths never execute in this sandbox
(no torch / transformers / sentence-transformers / PIL), so each gets
(a) a skipif-marked construction+call smoke that runs wherever the
libs ARE present, and (b) a sandbox-runnable assertion that the
import gate raises the documented NotImplementedError — the gate
contract itself is pinned either way.
"""

from __future__ import annotations

import importlib.util

import pandas as pd
import pytest

from knowledge_graph_creation_from_text_with_llms_spark.functions import embeddings
from knowledge_graph_creation_from_text_with_llms_spark.operators import (
    extractor,
    multimodal,
)

_HAS_TRANSFORMERS = (
    importlib.util.find_spec("transformers") is not None
    and importlib.util.find_spec("torch") is not None
)
_HAS_ST = importlib.util.find_spec("sentence_transformers") is not None


@pytest.mark.skipif(not _HAS_TRANSFORMERS, reason="torch/transformers not installed")
def test_hf_causal_backend_smoke():
    """Construct the HF backend on a tiny model and run one batch:
    exercises the left-padding config and the token-id prompt strip
    (extractor.py) that are otherwise dead code in the sandbox."""
    be = extractor.HFCausalBackend(
        model_name="sshleifer/tiny-gpt2",
        generate_params={"max_new_tokens": 4, "do_sample": False},
    )
    assert be.tokenizer.padding_side == "left"
    out = be.generate(pd.Series(["alpha beta", "a much longer prompt text here"]))
    assert len(out) == 2
    # the prompt must be stripped from the continuation
    assert not out.iloc[0].startswith(extractor.DEFAULT_SYSTEM_MESSAGE)


def test_hf_causal_backend_gate_without_libs():
    if _HAS_TRANSFORMERS:
        pytest.skip("transformers present: gate not reachable")
    with pytest.raises(NotImplementedError, match="RuleBasedBackend"):
        extractor.HFCausalBackend()


@pytest.mark.skipif(not _HAS_ST, reason="sentence-transformers not installed")
def test_sentence_encoder_smoke():
    be = embeddings.SentenceEncoderBackend()
    vecs = be.encode(["hello world", "spark graft"])
    assert vecs.shape[0] == 2 and vecs.shape[1] > 0


def test_sentence_encoder_gate_without_libs():
    if _HAS_ST:
        pytest.skip("sentence-transformers present: gate not reachable")
    with pytest.raises(NotImplementedError, match="hash_embedding_expr"):
        embeddings.SentenceEncoderBackend()


_HAS_PIL = importlib.util.find_spec("PIL") is not None


def test_library_decoder_gate_without_libs():
    """Where PIL is absent the library decoder must raise the documented
    error AT CONSTRUCTION, and the deterministic stand-in must
    satisfy the same interface."""
    if _HAS_PIL:
        pytest.skip("PIL present: gate not reachable")
    with pytest.raises(NotImplementedError, match="DeterministicFakeDecoder"):
        multimodal.LibraryDecoder()
    feats = multimodal.DeterministicFakeDecoder().features("payload")
    assert len(feats) == multimodal.FEATURE_DIM


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed")
def test_library_decoder_smoke():
    """Where PIL IS installed the real path runs: a 2×2 PNG decodes to
    FEATURE_DIM normalized pixel features — same contract as the
    deterministic stand-in."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (2, 2), (255, 0, 0)).save(buf, format="PNG")
    payload = buf.getvalue()
    feats = multimodal.LibraryDecoder().features(payload)
    assert len(feats) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in feats)


# -- Spark-path integration smokes (auto-run wherever the libs exist) --------
#
# The construction smokes above prove the backends; these prove the
# WIRING — backend_factory through the real mapInPandas stages — so a
# lib-bearing environment upgrades the whole path from skipped to run
# without any code or marker change.


@pytest.mark.skipif(not _HAS_TRANSFORMERS, reason="torch/transformers not installed")
def test_hf_backend_through_extract_responses(spark):
    chunks = spark.createDataFrame(
        [("d1", 1, "alpha beta gamma"), ("d2", 1, "delta epsilon zeta")],
        "doc_id string, chunk_id int, text string",
    )
    out = extractor.extract_responses(
        chunks,
        lambda: extractor.HFCausalBackend(
            model_name="sshleifer/tiny-gpt2",
            generate_params={"max_new_tokens": 4, "do_sample": False},
        ),
    ).collect()
    assert len(out) == 2 and all(r.response is not None for r in out)


@pytest.mark.skipif(not _HAS_ST, reason="sentence-transformers not installed")
def test_sentence_encoder_through_embed_labels(spark):
    df = spark.createDataFrame(
        [("e1", "hello world"), ("e2", "spark graft")], "id string, label string"
    )
    rows = embeddings.embed_labels_with_model(df, "label").collect()
    assert len(rows) == 2
    dims = {len(r.embedding) for r in rows}
    assert len(dims) == 1 and dims.pop() > 0


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed")
def test_library_decoder_through_extract_media_features(spark):
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (4, 4), (0, 128, 255)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [("m1", "image", bytearray(buf.getvalue()))],
        "media_id string, kind string, payload binary",
    )
    rows = multimodal.extract_media_features(
        media, decoder_factory=multimodal.LibraryDecoder
    ).collect()
    assert len(rows) == 1
    assert len(rows[0].features) == multimodal.FEATURE_DIM
