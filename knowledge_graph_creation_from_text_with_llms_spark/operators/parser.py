"""Parsers: LLM response text → (subj, pred, obj) rows.

Two grammars, both reproduced exactly from the reference:

1. `parse_responses` — the *writer-side* parse of
   TripleGenerator._parse_and_save_triples
   (/root/reference/src/core/Generator/TripleGenerator.py:148-164):
   per line, lstrip the char-set "0123456789. ", strip outer '('/')'
   chars, split on literal ", ", keep only arity-3, whitespace-strip
   each part. Implemented with native column expressions only
   (split/regexp_replace/filter) — stays in whole-stage codegen.

2. `parse_triple_lines` — the *reader-side* quote-aware grammar of
   Integrator._read_triples_from_file
   (/root/reference/src/core/Integrator/Integrator.py:156-218):
   skip blank/#-comment lines, drop one trailing ';', strip outer
   parens, split on commas OUTSIDE double quotes, strip quotes and
   whitespace per part, keep arity-3. The hot path is a native regex
   for the canonical `("a", "b", "c");` shape; `exact=True` switches
   to an Arrow-batched UDF that replicates the char-scan state machine
   verbatim for adversarial inputs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _strip_parens_ends(c: Column) -> Column:
    # Python str.strip("()") removes any run of ( or ) from both ends.
    return F.regexp_replace(F.regexp_replace(c, r"^[()]+", ""), r"[()]+$", "")


def parse_responses(
    responses: DataFrame,
    carry_cols: tuple[str, ...] = ("doc_id", "chunk_id", "content_sha256"),
) -> DataFrame:
    """raw_responses → triples_raw using grammar (1) on each line of
    `response`. Malformed lines (arity != 3) are dropped, exactly like
    the reference."""
    keep = [c for c in carry_cols if c in responses.columns]
    lines = responses.select(
        *keep, F.explode(F.split(F.col("response"), "\n")).alias("line")
    )
    # line.lstrip("0123456789. ")  →  strip leading run of that charset
    cleaned = F.regexp_replace(F.col("line"), r"^[0-9. ]+", "")
    parts = F.split(_strip_parens_ends(cleaned), ", ")
    out = (
        lines.withColumn("parts", parts)
        .where(F.size("parts") == 3)
        .select(
            *keep,
            F.trim(F.element_at("parts", 1)).alias("subj"),
            F.trim(F.element_at("parts", 2)).alias("pred"),
            F.trim(F.element_at("parts", 3)).alias("obj"),
        )
    )
    return out


def format_triple_line(subj: Column, pred: Column, obj: Column) -> Column:
    """The writer's output shape: ("s", "p", "o");
    (TripleGenerator.py:160)."""
    q = F.lit('"')
    return F.concat(
        F.lit("("), q, subj, q, F.lit(", "), q, pred, q, F.lit(", "), q, obj, q,
        F.lit(");"),
    )


# A comma sits OUTSIDE double quotes iff the number of '"' before it is
# even, i.e. the quote count *after* it has the same parity as the
# line's total quote count. Both parities are regular languages, so the
# whole quote-aware split is expressible as a regexp_replace with a
# parity lookahead — no UDF, stays in whole-stage codegen. Verified
# equal to the verbatim char-scan on every committed reference triples
# line plus adversarial cases (tests/test_parity_reference.py,
# tests/test_parser.py).
_COMMA_EVEN_AFTER = ',(?=(?:[^"]*"[^"]*")*[^"]*$)'
_COMMA_ODD_AFTER = ',(?=(?:[^"]*"[^"]*")*[^"]*"[^"]*$)'
_SENTINEL = "\x01"


def parse_triple_lines(
    lines: DataFrame,
    line_col: str = "line",
    carry_cols: tuple[str, ...] = ("doc_id", "chunk_id"),
    exact: bool = False,
) -> DataFrame:
    """triple text lines → (subj, pred, obj) rows using grammar (2).

    The default path is a pure-native replica of the reference's
    char-scan (regex parity-lookahead split); exact=True runs the
    verbatim Python state machine inside an Arrow-batched UDF for
    belt-and-braces comparison in tests.
    """
    keep = [c for c in carry_cols if c in lines.columns]
    trimmed = lines.withColumn("_l", F.trim(F.col(line_col))).where(
        (F.col("_l") != "") & (~F.col("_l").startswith("#"))
    )
    if not exact:
        # scan preprocessing: drop ONE trailing ';', strip paren runs
        body = _strip_parens_ends(F.regexp_replace(F.col("_l"), ";$", ""))
        core = trimmed.withColumn("_b", body)
        total_even = (
            F.length(F.col("_b"))
            - F.length(F.regexp_replace(F.col("_b"), '"', ""))
        ) % 2 == 0
        marked = F.when(
            total_even, F.regexp_replace(F.col("_b"), _COMMA_EVEN_AFTER, _SENTINEL)
        ).otherwise(
            F.regexp_replace(F.col("_b"), _COMMA_ODD_AFTER, _SENTINEL)
        )
        # a line ending on an outside comma leaves no trailing part in
        # the scan ("if current:"), so drop one trailing sentinel
        marked = F.regexp_replace(marked, f"{_SENTINEL}$", "")
        parts = F.split(marked, _SENTINEL, -1)
        core = core.withColumn("_parts", parts).where(F.size("_parts") == 3)

        def _field(i: int):
            # p.strip().strip('"') — whitespace first, then quote runs
            p = F.trim(F.element_at("_parts", i))
            return F.regexp_replace(F.regexp_replace(p, '^"+', ""), '"+$', "")

        return core.select(
            *keep,
            _field(1).alias("subj"),
            _field(2).alias("pred"),
            _field(3).alias("obj"),
        )

    # exact char-scan replica of Integrator.py:184-210, Arrow-batched
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _scan(col: pd.Series) -> pd.Series:
        def one(line: str):
            line = line.strip()
            if line.endswith(";"):
                line = line[:-1]
            line = line.strip("()")
            parts, current, in_quotes = [], [], False
            for ch in line:
                if ch == '"':
                    in_quotes = not in_quotes
                elif ch == "," and not in_quotes:
                    parts.append("".join(current).strip())
                    current = []
                    continue
                current.append(ch)
            if current:
                parts.append("".join(current).strip())
            parts = [p.strip().strip('"') for p in parts]
            return parts if len(parts) == 3 else None

        return col.map(one)

    scanned = trimmed.withColumn("parts", _scan(F.col("_l"))).where(
        F.col("parts").isNotNull()
    )
    return scanned.select(
        *keep,
        F.element_at("parts", 1).alias("subj"),
        F.element_at("parts", 2).alias("pred"),
        F.element_at("parts", 3).alias("obj"),
    )
