"""HTML cleaner (S2) parity tests.

Expected values are hand-derived from the reference's BeautifulSoup
semantics (/root/reference/src/core/Extractor/Extractor.py:52-70,127):
decompose every <table> and every <sup class="reference">, then
" ".join(p.get_text() for p in soup.find_all('p')). bs4 is not in this
container, so each case documents the derivation in its comment.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators.htmlclean import (
    clean_documents,
    clean_html,
)

CASES = [
    # (name, html, expected)
    ("two_paragraphs", "<p>Hello world.</p><p>Second one.</p>",
     "Hello world. Second one."),
    # non-<p> text never contributes
    ("ignores_non_p", "<div>skip me</div><p>kept</p><span>also skip</span>",
     "kept"),
    # whole <table> subtree removed, including a <p> inside it
    ("p_inside_table_removed",
     "<p>a</p><table><tr><td><p>noise</p></td></tr></table><p>b</p>",
     "a b"),
    # nested tables: the outer decompose takes the inner with it
    ("nested_tables",
     "<p>x</p><table><tr><td>t1<table><tr><td>t2</td></tr></table>t3"
     "</td></tr></table><p>y</p>",
     "x y"),
    # citation sup removed from inside a paragraph
    ("sup_reference_inline",
     '<p>Paris<sup class="reference">[1]</sup> is big.</p>',
     "Paris is big."),
    # class list containing 'reference' among others still matches
    ("sup_multiclass",
     '<p>A<sup class="reference noprint">[2]</sup>B</p>', "AB"),
    # a sup WITHOUT the reference class keeps its text (x squared)
    ("sup_plain_kept", "<p>x<sup>2</sup></p>", "x2"),
    # sup nested inside a reference sup is removed with it; the inner
    # </sup> must not terminate the suppression early
    ("sup_nested_in_reference",
     '<p>k<sup class="reference">a<sup>b</sup>c</sup>l</p>', "kl"),
    # get_text concatenates descendant strings with NO separator
    ("inline_no_separator", "<p>a<b>c</b>d <i>e</i>f</p>", "acd ef"),
    # charrefs decoded like get_text()
    ("entities", "<p>Fish &amp; chips &#8212; cheap</p>",
     "Fish & chips — cheap"),
    # empty paragraph still joins (reference " ".join keeps the slot)
    ("empty_paragraph", "<p>a</p><p></p><p>b</p>", "a  b"),
    # lxml implied end tag: <p> inside <p> closes the first
    ("implied_p_close", "<p>one<p>two</p>", "one two"),
    # unclosed trailing paragraph is still flushed
    ("unclosed_trailing_p", "<p>tail text", "tail text"),
    # table between paragraphs with attributes on the tag
    ("table_with_attrs",
     '<p>a</p><table class="wikitable" border="1"><td>x</td></table><p>b</p>',
     "a b"),
    # stray </sup> / </table> end tags must not underflow state
    ("stray_end_tags", "</sup></table><p>safe</p>", "safe"),
    ("no_paragraphs", "<div>nothing here</div>", ""),
    ("empty_string", "", ""),
]


@pytest.mark.parametrize("name,html,expected", CASES, ids=[c[0] for c in CASES])
def test_clean_html_cases(name, html, expected):
    assert clean_html(html) == expected


def test_clean_html_none():
    assert clean_html(None) == ""


def test_wikipedia_shaped_document():
    """A realistic page: title/infobox table, citations, references."""
    html = (
        "<html><head><title>Topic</title></head><body>"
        '<table class="infobox"><tr><th>Born</th><td>1900</td></tr></table>'
        "<p><b>Topic</b> is a thing"
        '<sup class="reference" id="cite_ref-1">[1]</sup>'
        " studied widely.</p>"
        "<h2>History</h2>"
        "<p>It began<sup class=\"reference\">[2]</sup> early.</p>"
        '<table class="wikitable"><tr><td><p>Year</p></td></tr></table>'
        "<div>See also</div>"
        "</body></html>"
    )
    assert clean_html(html) == "Topic is a thing studied widely. It began early."


def test_clean_documents_operator(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "content": [
                    "<p>a</p><table><td>junk</td></table><p>b</p>",
                    '<p>c<sup class="reference">[9]</sup></p>',
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r["content"]
        for r in clean_documents(df).orderBy("doc_id").collect()
    }
    assert out == {1: "a b", 2: "c"}
