"""Canonicalization: merge coreferent mentions into stable surrogate IDs.

The reference has no canonicalization beyond its exact/alias preference
order; the north_rule mandates one for the rebuild: a normalize-key
reduce with *skew salting* for hub entities (a handful of entities —
"LeBron James", "AI" — dominate mention counts, which at 100 TB means
one straggler reducer unless the key is salted).

Pattern: two-phase aggregation. Phase 1 groups by (key, salt) where
salt = pmod(xxhash64(doc_id), S) — S-way fan-out of every hot key —
computing partial aggregates; phase 2 merges the S partials per key.
Commutative+associative aggregates only (counts, sums, min, set-unions
capped), so the result is identical to a single-phase groupBy. AQE's
skew handling complements this but cannot split a single hot *key*;
salting can.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def salted_mention_counts(
    mentions: DataFrame,
    label_col: str = "label",
    salt_col_source: str = "doc_id",
    num_salts: int = 16,
    hash_doc_keys: bool = False,
) -> DataFrame:
    """mentions(label, doc_id, …) → (canonical_key, node_id,
    n_mentions, n_docs, aliases) via salted two-phase reduce.

    n_docs uses per-salt distinct doc sets merged at phase 2 — exact
    because the salt is derived from doc_id, so a doc never spans two
    salt buckets of the same key.
    """
    # hash_doc_keys narrows the shuffled doc key to 64 bits (documents
    # carry long sha256-hex ids); n_docs then counts distinct hashes —
    # collision odds are (per-key docs)^2 / 2^65, immaterial even at
    # 10^12 rows, and it roughly halves shuffle bytes in phases 0-1.
    doc_key = (
        F.xxhash64(F.col(salt_col_source))
        if hash_doc_keys
        else F.col(salt_col_source)
    )
    keyed = mentions.select(
        canonical_key_expr(label_col).alias("canonical_key"),
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
        mentions.select(F.col(label_col).alias("_surface"))
        .distinct()
        .select(
            canonical_key_expr("_surface").alias("canonical_key"),
            "_surface",
        )
        .where(F.col("canonical_key") != "")
    )
    # phase 1 merges per (key, salt); phase 2 merges the S partials.
    salted = per_doc.withColumn(
        "_salt", F.pmod(F.xxhash64("_doc"), F.lit(num_salts))
    )
    partial = salted.groupBy("canonical_key", "_salt").agg(
        F.sum("_cnt").alias("_cnt"),
        F.count(F.lit(1)).alias("_docs"),
    )
    counts = partial.groupBy("canonical_key").agg(
        F.sum("_cnt").alias("n_mentions"),
        F.sum("_docs").alias("n_docs"),
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
