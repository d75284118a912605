"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct;
decode / feature-extract runs as an Arrow-batched `mapInPandas`
stage. The actual codec work is STUBBED (no image/audio
libraries in this container): `DeterministicFakeDecoder` produces
seeded, shape-correct outputs so the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — is real and tested;
`LibraryDecoder` raises NotImplementedError until PIL/torchaudio are
provided.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16


class DeterministicFakeDecoder:
    """Stand-in decoder: features are a seeded hash of the payload
    bytes — deterministic, shape-correct, dependency-free."""

    def features(self, payload: bytes | str) -> list[float]:
        if isinstance(payload, str):
            payload = payload.encode()
        h = hashlib.sha256(payload).digest()
        rng = np.frombuffer(h, dtype=np.uint8).astype(np.float64)
        reps = int(np.ceil(FEATURE_DIM / len(rng)))
        vec = np.tile(rng, reps)[:FEATURE_DIM]
        return [float(round(v / 255.0, 6)) for v in vec]


class LibraryDecoder:  # pragma: no cover
    """Real image-decode path, import-gated on PIL (audio/video would
    gate on soundfile / av the same way). Where PIL is installed this
    RUNS: decode → grayscale → FEATURE_DIM-pixel thumbnail →
    [0,1]-normalized pixel features, the same shape/contract as
    DeterministicFakeDecoder. Where it isn't (this sandbox), the
    constructor raises the documented error."""

    def __init__(self) -> None:
        try:
            from PIL import Image  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "media decode libraries are not available in this "
                "environment; use DeterministicFakeDecoder for "
                "plumbing tests"
            ) from e
        self._image_mod = Image

    def features(self, payload: bytes) -> list[float]:
        import io

        img = self._image_mod.open(io.BytesIO(payload)).convert("L")
        side = int(np.ceil(np.sqrt(FEATURE_DIM)))
        img = img.resize((side, side))
        px = np.asarray(img, dtype=np.float64).ravel()[:FEATURE_DIM]
        return [float(round(v / 255.0, 6)) for v in px]


def extract_media_features(
    media: DataFrame, decoder_factory=DeterministicFakeDecoder
) -> DataFrame:
    """(media_id, kind, payload) → (media_id, kind, features
    array<float>). One mapInPandas stage; the decoder is a per-worker
    singleton; Arrow batch size bounds decode memory (binary payloads
    are large — keep spark.sql.execution.arrow.maxRecordsPerBatch
    small for media)."""
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("kind", StringType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = decoder_factory()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": pdf["payload"].map(decoder.features),
                }
            )

    return media.mapInPandas(_run, schema=schema)
