"""Benchmark / test-set decontamination.

The GPT-3-style overlap check: a training document is contaminated if
it shares any word n-gram with an evaluation-set text (Brown et al.
2020, appendix C use 13-grams; the n is a knob). Plan shape for
100 TB:

- The probe side (benchmark/eval texts) is small by definition → its
  distinct n-gram set is md5-hashed and BROADCAST; the corpus side
  streams through a map + broadcast-hash-join, so the only shuffle is
  the per-doc hit aggregation.
- N-grams are joined on their md5, not the raw string: the broadcast
  table and the shuffle rows carry 32-byte keys instead of arbitrary
  n-word strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles_expr


def contamination_flags(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 13,
) -> DataFrame:
    """(doc_id, n_contaminated_grams, contaminated) for every document;
    documents and probes both carry their text in `text`.

    n_contaminated_grams counts the DISTINCT document n-grams that
    appear anywhere in the probe set; contaminated = (count > 0).
    Documents shorter than n tokens have 0 matches by construction.
    """
    probe_grams = (
        probes.select(
            F.explode(word_shingles_expr("text", n)).alias("_g")
        )
        .select(F.md5("_g").alias("_gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(word_shingles_expr("text", n))
        ).alias("_g"),
    ).select(F.col("doc_id"), F.md5("_g").alias("_gh"))
    hits = (
        doc_grams.join(F.broadcast(probe_grams), "_gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_grams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("n_contaminated_grams", F.lit(0).cast("long")).alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
