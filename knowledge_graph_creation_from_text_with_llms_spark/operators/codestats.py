"""Code-aware text operators for the source-code corpus the engine
ingests (input_hint: Iceberg table (repo, path, commit, lang,
content)): comment stripping, identifier extraction + sub-token
splitting, license detection, per-file line statistics.

All pure per-row column expressions — map-only plans, no shuffle, no
UDF — so they run at scan speed over a 10^12-file corpus and every
one has an exact DuckDB oracle in the gate. Every operator reads a
(doc_id, lang, content) table.

Comment handling is lexical, not a parser: `#`/`//`-to-EOL and
`/* ... */` block comments are stripped by regex, so a string literal
containing "//" is treated as a comment start — the standard
trade-off for corpus-quality statistics (a full per-language lexer is
out of scope; the divergence is documented here and in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# languages using #-to-EOL comments; everything else gets the C family
_HASH_COMMENT_LANGS = ("python", "ruby", "shell", "bash", "perl", "r", "yaml")

_BLOCK_COMMENT = r"/\*[\s\S]*?\*/"
_LINE_COMMENT_C = r"//[^\n]*"
_LINE_COMMENT_HASH = r"#[^\n]*"


def _is_hash_lang(lang: Column) -> Column:
    return F.lower(lang).isin(*_HASH_COMMENT_LANGS)


def strip_comments_expr(content: Column, lang: Column) -> Column:
    """content with comments removed (lexical, see module note)."""
    hash_stripped = F.regexp_replace(content, _LINE_COMMENT_HASH, "")
    c_stripped = F.regexp_replace(
        F.regexp_replace(content, _BLOCK_COMMENT, ""), _LINE_COMMENT_C, ""
    )
    return F.when(_is_hash_lang(lang), hash_stripped).otherwise(c_stripped)


def strip_comments(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "content_nocomments",
        strip_comments_expr(F.col("content"), F.col("lang")),
    )


# -- identifiers -------------------------------------------------------------

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def identifiers_expr(content: Column) -> Column:
    """array of identifier tokens in source order (duplicates kept)."""
    return F.regexp_extract_all(content, F.lit(f"({_IDENT})"), 1)


def split_identifier_expr(ident: Column) -> Column:
    """identifier → lowercase sub-tokens: snake_case on '_',
    camelCase / PascalCase on lower→Upper and acronym→Word
    boundaries, digit runs separated. Pure regexp chain (RE2-safe: no
    lookaround), identical in the DuckDB oracle:
      getHTTPResponse2xx → [get, http, response, 2, xx]
    """
    spaced = F.regexp_replace(ident, r"_", " ")
    # acronym boundary: HTTPResponse → HTTP Response
    spaced = F.regexp_replace(spaced, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
    # camel boundary: getHTTP → get HTTP
    spaced = F.regexp_replace(spaced, r"([a-z0-9])([A-Z])", r"$1 $2")
    # digit runs: response2xx → response 2 xx
    spaced = F.regexp_replace(spaced, r"([A-Za-z])([0-9])", r"$1 $2")
    spaced = F.regexp_replace(spaced, r"([0-9])([A-Za-z])", r"$1 $2")
    return F.filter(F.split(F.lower(spaced), r"\s+"), lambda t: t != "")


def extract_identifiers(df: DataFrame) -> DataFrame:
    """One row per (doc_id, identifier): the identifier and its split
    sub-tokens, comments stripped first so commented-out code doesn't
    pollute the vocabulary."""
    code = strip_comments_expr(F.col("content"), F.col("lang"))
    return (
        df.select("doc_id", F.explode(identifiers_expr(code)).alias("ident"))
        .withColumn("subtokens", split_identifier_expr(F.col("ident")))
    )


# -- license detection ---------------------------------------------------------

# marker → SPDX-ish id, checked in order (first hit wins); matching is
# on the lowercased head of the file, where license headers live
LICENSE_MARKERS: tuple[tuple[str, str], ...] = (
    ("apache license", "Apache-2.0"),
    ("licensed under the apache", "Apache-2.0"),
    ("gnu general public license", "GPL"),
    ("gnu lesser general public license", "LGPL"),
    ("mozilla public license", "MPL-2.0"),
    ("mit license", "MIT"),
    ("permission is hereby granted, free of charge", "MIT"),
    ("redistribution and use in source and binary forms", "BSD"),
    ("creative commons", "CC"),
    ("unlicense", "Unlicense"),
)

LICENSE_HEAD_CHARS = 2000


def license_expr(content: Column) -> Column:
    head = F.lower(F.substring(content, 1, LICENSE_HEAD_CHARS))
    out = F.lit("unknown")
    for marker, spdx in reversed(LICENSE_MARKERS):
        out = F.when(head.contains(marker), F.lit(spdx)).otherwise(out)
    return out


def detect_license(df: DataFrame) -> DataFrame:
    return df.withColumn("license", license_expr(F.col("content")))


# -- per-file line statistics ---------------------------------------------------


def code_line_stats(df: DataFrame) -> DataFrame:
    """Per-file line metrics for corpus filtering: line counts, blank
    and comment-line fractions, average/max line length, duplicate-
    line fraction. Map-only, no shuffle.

    The split / trimmed / nonblank arrays each feed several output
    columns, and HOF expressions get no cross-expression CSE — so they
    are STAGED through projections (the multiply-referenced expensive
    aliases survive CollapseProject) and every metric reads the
    attribute: the content is split once per row, not once per
    referencing metric."""
    lines_c, trimmed_c, nonblank_c = "__cls_lines", "__cls_trimmed", "__cls_nonblank"
    keep = ["doc_id", "lang"]
    staged = df.select(
        *keep, F.split(F.col("content"), r"\n").alias(lines_c)
    ).select(
        *keep, lines_c, F.transform(F.col(lines_c), lambda l: F.trim(l)).alias(trimmed_c)
    ).select(
        *keep,
        lines_c,
        trimmed_c,
        F.filter(F.col(trimmed_c), lambda l: l != "").alias(nonblank_c),
    )
    lines, trimmed, nonblank = F.col(lines_c), F.col(trimmed_c), F.col(nonblank_c)
    n_lines = F.size(lines)
    blank = F.size(F.filter(trimmed, lambda l: l == ""))
    comment_start = F.when(
        _is_hash_lang(F.col("lang")), F.lit("#")
    ).otherwise(F.lit("//"))
    comment = F.size(
        F.filter(trimmed, lambda l: l.startswith(comment_start) & (l != ""))
    )
    dup = F.size(nonblank) - F.size(F.array_distinct(nonblank))
    lens = F.transform(lines, lambda l: F.length(l))
    total_len = F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x)
    return staged.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        blank.cast("long").alias("n_blank_lines"),
        comment.cast("long").alias("n_comment_lines"),
        (blank.cast("double") / n_lines).alias("blank_fraction"),
        (dup.cast("double") / F.greatest(F.size(nonblank), F.lit(1))).alias(
            "dup_line_fraction"
        ),
        (total_len.cast("double") / n_lines).alias("avg_line_len"),
        F.array_max(F.concat(lens, F.array(F.lit(0)))).cast("long").alias(
            "max_line_len"
        ),
    )
