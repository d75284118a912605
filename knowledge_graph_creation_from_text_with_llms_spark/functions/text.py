"""Text column expressions (all native Spark SQL — JVM-side codegen).

These are the shared primitives the KG stages and the training-data
operators build on. Every expression here has an exact ANSI-SQL
equivalent (used by the DuckDB oracles), so correctness is checkable
engine-vs-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens_expr(col: str | Column) -> Column:
    """Lowercased alphanumeric tokens of a text column (array<string>).

    SQL equivalent: regexp_extract_all(lower(col), '[a-z0-9]+').
    """
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(TOKEN_RE), 0)


def bind_once(value: Column, fn) -> Column:
    """Evaluate `value` exactly once and hand it to `fn` as a bound
    lambda variable.

    A subexpression CAPTURED inside a higher-order-function lambda is
    re-evaluated on every lambda invocation (there is no common-
    subexpression elimination inside HOF lambdas, interpreted or
    codegen), so e.g. transform(sequence(1, size(toks)-1),
    i -> element_at(toks, i)) with toks = regexp_extract_all(...)
    re-runs the regex O(n) times per row — measured 11× on the bigram
    explode at 50k docs. Routing the value through a one-element
    transform makes it a NamedLambdaVariable — a plain slot read —
    inside `fn`, and keeps the whole thing a single expression (no
    staging projection to be re-inlined by CollapseProject).
    """
    return F.element_at(F.transform(F.array(value), fn), 1)


def normalize_text_expr(col: str | Column) -> Column:
    """Metric normalization: lowercase, remove [^\\w\\s], strip.

    Mirrors the reference's normalize_text
    (/root/reference/tests/test_modules/metrics.py:28-31) exactly.
    """
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"[^\w\s]", ""))


def word_shingles_expr(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles (space-joined) as array<string>.

    Empty array when the document has fewer than n tokens. Computed
    entirely with higher-order functions — no UDF, no shuffle. The
    token array is bound once (bind_once) so the tokenize regex does
    NOT re-run per emitted shingle.
    """
    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(tokens_expr(col), build)


def char_shingles_expr(col: str | Column, k: int = 8) -> Column:
    """Character k-gram shingles of lower(col) as array<string>.
    lower(col) is bound once (bind_once), not re-lowered per gram."""
    def build(low: Column) -> Column:
        return F.when(
            F.length(low) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(low) - F.lit(k - 1)),
                lambda i: low.substr(i, F.lit(k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(F.lower(_c(col)), build)


def bigrams_expr(col: str | Column) -> Column:
    """Adjacent token pairs as array<struct<subj,obj>> — the mention
    co-occurrence triple source. No shuffle: pure array transform.
    The token array is bound once (bind_once): the unbound form
    re-tokenized per pair element — measured 6.7 s → 0.6 s for the
    bare explode at 50k docs.
    """
    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("subj"),
                    F.element_at(toks, i + F.lit(1)).alias("obj"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<subj:string,obj:string>>")
        )

    return bind_once(tokens_expr(col), build)
