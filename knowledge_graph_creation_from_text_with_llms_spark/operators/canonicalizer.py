"""Canonicalization: merge coreferent mentions into stable surrogate IDs.

The reference has no canonicalization beyond its exact/alias preference
order; the north_rule mandates one for the rebuild: a normalize-key
reduce with *skew salting* for hub entities (a handful of entities —
"LeBron James", "AI" — dominate mention counts, which at 100 TB means
one straggler reducer unless the key is salted).

Pattern: two-phase aggregation salted by the document. Phase 1 groups
by (key, doc), which fans every hot key out over as many reducers as it
has documents; phase 2 merges the per-doc partials per key, and its
map-side combine leaves at most one row per key per map task for the
final reduce. Commutative+associative aggregates only (counts, sums,
set-unions), so the result is identical to a single-phase groupBy.
AQE's skew handling complements this but cannot split a single hot
*key*; the doc-keyed phase does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def canonical_key_expr(col: str | Column) -> Column:
    """Normalization that merges coreferent surface forms:
    lowercase → strip non-word/space chars → collapse whitespace to a
    single space → trim. (Same normalizer family as the reference's
    metric normalization, metrics.py:28-31, plus space-collapsing.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^\w\s]", ""), r"\s+", " "
        )
    )


def surrogate_id_expr(key: Column, prefix: str = "E") -> Column:
    """Stable surrogate node id from the canonical key (md5-based so it
    is reproducible across engines and runs)."""
    return F.concat(F.lit(prefix), F.substring(F.md5(key), 1, 16))


def salted_mention_counts(mentions: DataFrame) -> DataFrame:
    """mentions(label, doc_id, …) → (canonical_key, node_id,
    n_mentions, n_docs, aliases) via a doc-salted two-phase reduce.

    n_docs counts the phase-1 (key, doc) rows per key — exact because
    phase 1 leaves one row per distinct doc of a key.
    """
    # a string doc_id is hashed to 64 bits (documents carry long
    # sha256-hex ids); n_docs then counts distinct hashes — collision
    # odds are (per-key docs)^2 / 2^65, immaterial even at 10^12 rows,
    # and it roughly halves the (key, doc) shuffle bytes. Integer ids
    # are already that narrow and shuffle as they are.
    doc_key = F.col("doc_id")
    if isinstance(mentions.schema["doc_id"].dataType, StringType):
        doc_key = F.xxhash64(doc_key)
    keyed = mentions.select(
        canonical_key_expr("label").alias("canonical_key"),
        doc_key.alias("_doc"),
    ).where(F.col("canonical_key") != "")
    # Counts and aliases are two scans of the (cheap, codegen) mention
    # map, each shuffling only what it needs, and nothing is
    # materialized:
    #   - counts path: (key, doc) with map-side combine — no surface
    #     strings in the exchange;
    #   - aliases path: distinct raw surfaces first, then the normalize
    #     regex once per distinct surface (vocabulary scale, not
    #     mention scale). Valid because canonical_key is a pure
    #     function of the surface, so distinct-surface → (key, surface)
    #     pairs are already distinct.
    per_doc = keyed.groupBy("canonical_key", "_doc").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    alias_src = (
        mentions.select(F.col("label").alias("_surface"))
        .distinct()
        .select(
            canonical_key_expr("_surface").alias("canonical_key"),
            "_surface",
        )
        .where(F.col("canonical_key") != "")
    )
    counts = per_doc.groupBy("canonical_key").agg(
        F.sum("_cnt").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    # aliases — vocabulary-sized by the time it shuffles; collects
    # once per key
    aliases = alias_src.groupBy("canonical_key").agg(
        F.array_sort(F.collect_set("_surface")).alias("aliases")
    )
    merged = counts.join(aliases, "canonical_key")
    return merged.select(
        "canonical_key",
        surrogate_id_expr(F.col("canonical_key")).alias("node_id"),
        "n_mentions",
        "n_docs",
        "aliases",
    )
