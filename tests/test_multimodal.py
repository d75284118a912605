"""Multimodal plumbing: schema, UDF signature, batch shape (decode
itself is stubbed per brief — no media libs in this container)."""

import pytest

from knowledge_graph_creation_from_text_with_llms_spark.operators import multimodal


def _media(spark):
    return spark.createDataFrame(
        [
            ("m1", "image", "image/png", "fakepngbytes-1", 64, 64, 0),
            ("m2", "image", "image/png", "fakepngbytes-2", 32, 32, 0),
            ("m3", "video", "video/mp4", "fakemp4bytes", 0, 0, 3500),
        ],
        "media_id string, kind string, mime string, payload string,"
        " width int, height int, duration_ms int",
    )


def test_feature_extraction_shape_and_determinism(spark):
    out = {r.media_id: r for r in multimodal.extract_media_features(_media(spark)).collect()}
    assert len(out) == 3
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in out.values())
    again = {
        r.media_id: r for r in multimodal.extract_media_features(_media(spark)).collect()
    }
    assert out["m1"].features == again["m1"].features  # deterministic
    assert out["m1"].features != out["m2"].features  # payload-sensitive


def test_library_decoder_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.LibraryDecoder().features(b"x")
