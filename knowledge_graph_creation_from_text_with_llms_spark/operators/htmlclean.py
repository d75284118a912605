"""HTML cleaner: raw markup → extraction-ready plain text (S2).

Reproduces the reference's preprocessing contract
(/root/reference/src/core/Extractor/Extractor.py:52-70,127):

1. remove every ``<table>`` element (entire subtree, however nested);
2. remove every ``<sup class="reference">`` element (Wikipedia-style
   citation markers like ``[12]``);
3. extract the text of every remaining ``<p>`` element and join the
   paragraph texts with single spaces.

The reference does this with BeautifulSoup ``decompose()`` +
``" ".join(p.get_text() for p in soup.find_all('p'))``. Regex chains
cannot express subtree removal for *nested* tables, so the engine uses
the stdlib event-based ``html.parser.HTMLParser`` (no third-party
dependency) inside a vectorized pandas UDF: one Arrow batch of raw
HTML strings in, one batch of cleaned text out. At 100 TB this is a
map-only stage — no shuffle, parallelism comes straight from the
source scan, and the parser is O(len(html)) per document with O(depth)
state.

Semantics matched to BeautifulSoup/lxml:
- ``get_text()`` concatenates descendant strings with no separator
  (``<p>a<b>c</b>d</p>`` → ``"acd"``); entities/charrefs are decoded.
- ``class="reference"`` matches when ``reference`` is any one of the
  space-separated class tokens.
- a ``<p>`` opened while a ``<p>`` is already open implies the end of
  the previous paragraph (lxml's implied-end-tag repair).
- empty paragraphs still contribute an empty string to the join
  (``" ".join`` semantics, faithfully including the double spaces).

Known divergence (documented, tested): html.parser does not run lxml's
full tree repair, so pathologically broken markup (unclosed tables
interleaved with ``</p>`` in the wrong order) may differ; well-formed
and Wikipedia-grade HTML matches byte-for-byte.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


class _CleanExtractor(HTMLParser):
    """Single-pass extractor: suppress table / sup.reference subtrees,
    collect per-<p> text."""

    def __init__(self) -> None:
        # convert_charrefs=True (default) decodes &amp; / &#65; in data,
        # matching BeautifulSoup's get_text()
        super().__init__(convert_charrefs=True)
        self.paragraphs: list[str] = []
        self._buf: list[str] | None = None  # open paragraph buffer
        self._table_depth = 0
        self._sup_stack: list[bool] = []  # True = suppressing sup.reference

    # -- helpers -----------------------------------------------------------
    @staticmethod
    def _is_reference_sup(attrs) -> bool:
        for k, v in attrs:
            if k == "class" and "reference" in (v or "").split():
                return True
        return False

    def _suppressed(self) -> bool:
        return self._table_depth > 0 or any(self._sup_stack)

    def _close_paragraph(self) -> None:
        if self._buf is not None:
            self.paragraphs.append("".join(self._buf))
            self._buf = None

    # -- parser events -------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._table_depth += 1
            return
        if tag == "sup":
            self._sup_stack.append(self._is_reference_sup(attrs))
            return
        if tag == "p" and not self._suppressed():
            # implied end: a new <p> closes any open one (lxml repair)
            self._close_paragraph()
            self._buf = []

    def handle_endtag(self, tag):
        if tag == "table":
            self._table_depth = max(0, self._table_depth - 1)
            return
        if tag == "sup":
            if self._sup_stack:
                self._sup_stack.pop()
            return
        if tag == "p" and not self._suppressed():
            self._close_paragraph()

    def handle_startendtag(self, tag, attrs):
        # <table/> / <sup .../> are empty subtrees: nothing to remove.
        # <p/> contributes an empty paragraph.
        if tag == "p" and not self._suppressed():
            self._close_paragraph()
            self.paragraphs.append("")

    def handle_data(self, data):
        if self._buf is not None and not self._suppressed():
            self._buf.append(data)


def clean_html(html: str | None) -> str:
    """Pure-Python single-document cleaner (the UDF kernel; exposed for
    tests and driver-side use)."""
    if not html:
        return ""
    p = _CleanExtractor()
    p.feed(html)
    p.close()
    p._close_paragraph()  # tolerate unclosed trailing <p>
    return " ".join(p.paragraphs)


def clean_html_udf() -> Column:
    """Factory: vectorized pandas UDF html -> cleaned text."""

    @F.pandas_udf(StringType())
    def _udf(htmls: pd.Series) -> pd.Series:
        return htmls.map(clean_html)

    return _udf


def clean_documents(source: DataFrame) -> DataFrame:
    """Replace the `content` column with its cleaned form. Map-only
    stage; placed ahead of chunk_documents when the corpus is raw HTML
    (Extractor.py:120-127 order: fetch → clean → chunk)."""
    return source.withColumn("content", clean_html_udf()(F.col("content")))
