"""Chunker: source documents → fixed-size text chunks.

Reproduces the reference's greedy sentence-packing fold
(/root/reference/src/core/Extractor/Extractor.py:72-93): accumulate
units into the current chunk while len(chunk) + len(unit) + 1 <=
chunk_size, else flush and start a new chunk with the unit; flush the
trailing chunk. Units are sentences (regex splitter — the reference
uses NLTK punkt; we stay dependency-light and deterministic) or
whitespace words for punctuation-free corpora.

The fold is inherently sequential *within* a document but embarrassingly
parallel *across* documents, so it vectorizes as a scalar pandas UDF:
one Arrow batch in, one array<string> column out, then posexplode to
(chunk_id, text) rows. At 100 TB this is a map-only stage — no shuffle;
partition parallelism comes from the source scan.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

_SENT_BREAK = re.compile(r"(?<=[.!?])\s+")

# Guards that approximate NLTK punkt's learned no-break decisions
# (the reference splits with sent_tokenize, Extractor.py:75). punkt is
# corpus-trained; this is the deterministic subset that covers the
# common cases — residual divergences are documented in
# tests/test_chunker.py::test_punkt_divergence_table.
_ABBREVIATIONS = frozenset(
    "mr mrs ms dr prof rev gen rep sen sr jr st vs etc cf al inc ltd co "
    "corp dept univ assn bros fig figs no nos vol vols pp ed eds approx "
    "est min max jan feb mar apr jun jul aug sep sept oct nov dec mt".split()
)
_INITIAL = re.compile(r"^[A-Za-z]\.$")          # "J." in "J. Smith"
_DOTTED_ACRONYM = re.compile(r"^(?:[A-Za-z]{1,2}\.){2,}$")  # U.S., i.e., Ph.D.


def _is_no_break_token(token: str) -> bool:
    """True when the token ending a candidate break is an abbreviation,
    a single initial, or a dotted acronym — punkt would not split."""
    if not token.endswith("."):
        return False  # break came from ! or ? — always a boundary
    if _INITIAL.match(token) or _DOTTED_ACRONYM.match(token):
        return True
    return token[:-1].lower().rstrip(".") in _ABBREVIATIONS


def split_sentences(text: str) -> list[str]:
    """Deterministic sentence split: break after ./!/? + whitespace,
    except after abbreviations / initials / dotted acronyms (punkt-
    fidelity guards). Decimal numbers (3.14) never split — the period
    is not followed by whitespace."""
    if not text:
        return []
    out: list[str] = []
    start = 0
    for m in _SENT_BREAK.finditer(text):
        prev = re.search(r"(\S+)$", text[start : m.start()])
        if prev and _is_no_break_token(prev.group(1)):
            continue
        piece = text[start : m.start()]
        if piece:
            out.append(piece)
        start = m.end()
    tail = text[start:]
    if tail:
        out.append(tail)
    return out


def greedy_pack(units: list[str], chunk_size: int) -> list[str]:
    """Exact reference fold (Extractor.py:79-87), including the quirk
    that an oversized first unit flushes the (empty) current chunk —
    we drop empty chunks at the end rather than writing empty files."""
    chunks: list[str] = []
    current = ""
    for unit in units:
        if len(current) + len(unit) + 1 <= chunk_size:
            current = current + " " + unit if current else unit
        else:
            chunks.append(current)
            current = unit
    if current:
        chunks.append(current)
    return [c for c in chunks if c]


def chunk_array_udf(chunk_size: int, unit: str = "sentence"):
    """Factory: scalar pandas UDF text -> array<string> of chunks."""

    def _split(text: str) -> list[str]:
        if unit == "word":
            # same tokenization as functions.text.tokens_expr so the
            # DuckDB oracle can reproduce the fold from SQL tokens
            units = re.findall(r"[a-z0-9]+", (text or "").lower())
        else:
            units = split_sentences(text or "")
        return greedy_pack(units, chunk_size)

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(_split)

    return _udf


def chunk_documents(
    source: DataFrame,
    chunk_size: int = 500,
    unit: str = "sentence",
    text_col: str = "content",
    carry_cols: tuple[str, ...] = (
        "doc_id",
        "repo",
        "path",
        "commit",
        "lang",
        "content_sha256",
    ),
) -> DataFrame:
    """source → chunks(doc_id, …, chunk_id, text). chunk_id is 1-based
    to match the reference's chunk_{i}.txt numbering
    (Extractor.py:95-106). unit is "sentence" or "word"."""
    if unit not in ("sentence", "word"):
        raise ValueError(f"unknown chunk unit {unit!r}")
    keep = [c for c in carry_cols if c in source.columns]
    arr = chunk_array_udf(chunk_size, unit)(F.col(text_col))
    exploded = source.select(*keep, F.posexplode(arr).alias("pos", "text"))
    return exploded.select(
        *keep, (F.col("pos") + F.lit(1)).cast("int").alias("chunk_id"), "text"
    )
