"""Embedding backends for predicate/property similarity (J3).

Two implementations behind one contract:

- `hash_embedding_expr` — a fully *native* deterministic embedding:
  per token, dimension d is byte d of md5(token) scaled to [-1, 1];
  token vectors are averaged. No model, no UDF, identical math in
  DuckDB SQL (oracle-checkable) and stable across runs — the default
  for tests/benchmarks, standing in for the reference's
  sentence-transformers encoder
  (/root/reference/src/core/Integrator/WikidataEmbeddingGenerator.py:71,
  Matcher.py:190) exactly like the rule-based extractor stands in for
  the LLM.
- `SentenceEncoderBackend` — the real model path (sentence-
  transformers), import-gated, batched via mapInPandas.

The hash embedding is linguistically meaningless but *structurally*
faithful: identical tokens ⇒ identical vectors, shared tokens ⇒ high
cosine — enough to exercise ranking, top-k windows, and the mixed
fallback exactly as real embeddings would.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import bind_once, tokens_expr

DIM = 16  # components of the hash embedding


def _byte_vector(h: Column) -> Column:
    """array<double> of the first DIM components of a precomputed md5
    hex digest: component d = byte d scaled to [-1, 1]. One lambda over
    sequence(0, DIM-1)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: F.conv(F.substring(h, d * 2 + 1, 2), 16, 10).cast("double")
        / F.lit(127.5)
        - F.lit(1.0),
    )


def hash_embedding_expr(col: str | Column) -> Column:
    """array<double> embedding of a text column, native expressions.

    component d = avg over tokens of (md5_byte_d(token) / 127.5 - 1).
    SQL equivalent per component:
      list_sum(list_transform(toks,
        t -> ('0x' || substr(md5(t), 2d+1, 2))::INT / 127.5e0 - 1e0))
      / len(toks)

    The per-token md5 digests are computed ONCE into a bound array;
    each digest becomes its byte vector in one transform, the vectors
    are summed by one aggregate whose step is zip_with(acc, x, +) from
    array_repeat(0.0, DIM), and the sums are divided by the token
    count in one more transform. Each component is 0.0 + x_1 + x_2 +
    ... left to right, then one division — bit-identical to a
    per-component form.
    """
    c = F.col(col) if isinstance(col, str) else col

    def from_digests(hs: Column) -> Column:
        sums = F.aggregate(
            F.transform(hs, _byte_vector),
            F.array_repeat(F.lit(0.0), DIM),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        )
        n = F.size(hs)
        return F.when(n > 0, F.transform(sums, lambda s: s / n))

    return bind_once(
        F.transform(tokens_expr(c), lambda t: F.md5(t)), from_digests
    )


def token_embedding_expr(token: Column) -> Column:
    """array<double> embedding of ONE token (no averaging): component
    d = md5 byte d scaled to [-1, 1]. The per-token building block of
    hash_embedding_expr, used where token-level similarity matters
    (BERTScore greedy matching). Never the zero vector, so cosine is
    always defined. The digest is bound once, not hashed per
    component."""
    return bind_once(F.md5(token), _byte_vector)


def embed_labels(df: DataFrame, text_col: str) -> DataFrame:
    """Attach the deterministic hash embedding (native, no UDF) as
    `embedding`."""
    return df.withColumn("embedding", hash_embedding_expr(text_col))


class SentenceEncoderBackend:  # pragma: no cover — model not bundled
    """Batched sentence-transformers encoder for production use."""

    def __init__(self, model_name: str = "sentence-transformers/all-MiniLM-L6-v2"):
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as e:
            raise NotImplementedError(
                "sentence-transformers is not available in this environment; "
                "use hash_embedding_expr for deterministic runs"
            ) from e
        self.model = SentenceTransformer(model_name)

    def encode(self, texts):
        return self.model.encode(list(texts), convert_to_numpy=True)


def embed_labels_with_model(
    df: DataFrame,
    text_col: str,
    backend_factory=SentenceEncoderBackend,
    out_col: str = "embedding",
) -> DataFrame:  # pragma: no cover — model not bundled
    """mapInPandas batched encoding (per-worker model singleton), the
    production path mirroring WikidataEmbeddingGenerator.py:141-147
    but batched instead of one string at a time."""
    import pandas as pd

    fields = ", ".join(f"{c} {t}" for c, t in df.dtypes)
    schema = f"{fields}, {out_col} array<float>"

    def _run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        backend = backend_factory()
        for pdf in batches:
            out = pdf.copy()
            out[out_col] = list(map(list, backend.encode(pdf[text_col])))
            yield out

    return df.mapInPandas(_run, schema=schema)
