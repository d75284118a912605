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
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_text_col: str = "text",
) -> DataFrame:
    """(id, n_contaminated_grams, contaminated) for every document.

    n_contaminated_grams counts the DISTINCT document n-grams that
    appear anywhere in the probe set; contaminated = (count > 0).
    Documents shorter than n tokens have 0 matches by construction.
    """
    probe_grams = (
        probes.select(
            F.explode(word_shingles_expr(probe_text_col, n)).alias("_g")
        )
        .select(F.md5("_g").alias("_gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles_expr(text_col, n))
        ).alias("_g"),
    ).select(F.col(id_col), F.md5("_g").alias("_gh"))
    hits = (
        doc_grams.join(F.broadcast(probe_grams), "_gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_grams", F.lit(0).cast("long")).alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
