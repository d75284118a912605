"""Code-aware operators: comment stripping, identifier splitting,
license detection, line stats (operators/codestats.py)."""

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import codestats


def _code(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, content string")


def test_strip_comments_python_vs_c(spark):
    df = _code(
        spark,
        [
            (1, "python", "x = 1  # trailing\n# full line\ny = 2"),
            (2, "c", "a; // line\n/* block\nspanning */ b;"),
            (3, "java", "s = \"//not-a-comment\"; // real"),
        ],
    )
    out = {r.doc_id: r.content_nocomments for r in codestats.strip_comments(df).collect()}
    assert out[1] == "x = 1  \n\ny = 2"
    assert out[2] == "a; \n b;"
    # documented lexical divergence: '//' inside a string is treated
    # as a comment start (no per-language lexer)
    assert out[3] == 's = "'


def test_identifier_splitting(spark):
    df = _code(spark, [(1, "python", "getHTTPResponse2xx snake_case_id X")])
    rows = codestats.extract_identifiers(df).collect()
    subs = {r.ident: list(r.subtokens) for r in rows}
    assert subs["getHTTPResponse2xx"] == ["get", "http", "response", "2", "xx"]
    assert subs["snake_case_id"] == ["snake", "case", "id"]
    assert subs["X"] == ["x"]


def test_identifiers_ignore_comments(spark):
    df = _code(spark, [(1, "python", "real = 1\n# commentedOutVar = 2")])
    idents = {r.ident for r in codestats.extract_identifiers(df).collect()}
    assert "real" in idents and "commentedOutVar" not in idents


def test_license_detection(spark):
    df = _code(
        spark,
        [
            (1, "c", "/* Licensed under the Apache License, Version 2.0 */"),
            (2, "python", "# Permission is hereby granted, free of charge"),
            (3, "c", "int main() {}"),
            # marker beyond the head window is not scanned
            (4, "c", "x" * (codestats.LICENSE_HEAD_CHARS + 10) + " MIT License"),
        ],
    )
    out = {r.doc_id: r.license for r in codestats.detect_license(df).collect()}
    assert out == {1: "Apache-2.0", 2: "MIT", 3: "unknown", 4: "unknown"}


def test_code_line_stats(spark):
    content = "# c1\n\nx = 1\nx = 1\nlonger line here\n"
    df = _code(spark, [(1, "python", content)])
    r = codestats.code_line_stats(df).collect()[0]
    # split on \n gives 6 lines (trailing empty)
    assert r.n_lines == 6 and r.n_blank_lines == 2 and r.n_comment_lines == 1
    assert abs(r.dup_line_fraction - 1 / 4) < 1e-12  # one dup among 4 nonblank
    assert r.max_line_len == len("longer line here")


def test_code_line_stats_id_cols_may_use_staging_names(spark):
    """id columns named like code_line_stats' staging columns pass
    through unchanged and leave the metrics as they are."""
    content = "# c1\n\nx = 1\nx = 1\nlonger line here\n"
    base = _code(spark, [(1, "python", content)])
    ids = ("doc_id", "_lines", "__cls_lines", "__cls_trimmed")
    df = base.select(
        "*",
        F.lit("a").alias("_lines"),
        F.lit("b").alias("__cls_lines"),
        F.lit("c").alias("__cls_trimmed"),
    )
    got = codestats.code_line_stats(df, id_cols=ids).collect()[0]
    want = codestats.code_line_stats(base).collect()[0]
    assert got.asDict() == {**want.asDict(), "_lines": "a", "__cls_lines": "b", "__cls_trimmed": "c"}


def test_line_stats_empty_content(spark):
    df = _code(spark, [(1, "python", "")])
    r = codestats.code_line_stats(df).collect()[0]
    assert r.n_lines == 1 and r.n_blank_lines == 1 and r.dup_line_fraction == 0.0


def test_repetition_stats_degenerate_doc(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words differ here"), (3, "one")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.repetition_stats(docs).collect()}
    assert out[1].top_bigram_fraction == 1.0  # "spam spam" is every bigram
    assert abs(out[2].top_bigram_fraction - 1 / 3) < 1e-12
    assert out[3].top_bigram_fraction == 0.0  # no bigram at all


def test_scrub_pii_counts_and_order(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a@b.io and c.d@e.org; host 192.168.0.1; dial +44 20 7946 0958 end")],
        "doc_id long, text string",
    )
    r = textstats.scrub_pii(docs).collect()[0]
    assert (r.n_email, r.n_ip, r.n_phone) == (2, 1, 1)
    assert "<EMAIL>" in r.text_scrubbed and "<IP>" in r.text_scrubbed
    assert "<PHONE>" in r.text_scrubbed
    assert "192.168" not in r.text_scrubbed and "@" not in r.text_scrubbed


def test_strip_frequent_lines_semantics(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.operators import textstats

    header = "COMMON LICENSE HEADER"
    docs = spark.createDataFrame(
        [
            (1, header + "\nunique one\n" + header),  # repeated within a doc
            (2, header + "\nunique two"),
            (3, header + "\nunique three"),
            (4, "no boilerplate here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.strip_frequent_lines(docs, min_df=3).collect()}
    # header in 3 distinct docs → stripped everywhere, incl. both copies in doc 1
    assert out[1].text_clean == "unique one"
    assert out[1].n_lines == 3 and out[1].n_lines_removed == 2
    assert out[2].text_clean == "unique two"
    assert out[4].text_clean == "no boilerplate here"
    assert out[4].n_lines_removed == 0
    # doc reduced to nothing survives with empty text
    docs2 = spark.createDataFrame(
        [(i, header) for i in range(5)], "doc_id long, text string"
    )
    gone = textstats.strip_frequent_lines(docs2, min_df=3).collect()
    assert all(r.text_clean == "" and r.n_lines_removed == 1 for r in gone)
