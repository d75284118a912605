"""Training-sequence packing.

Pretraining consumes fixed-length token sequences, not documents; the
standard preparation is concat-and-chunk: lay documents end to end in
a deterministic order and cut every `seq_len` tokens, letting a
document straddle a cut (GPT-style packing — no padding waste, exact
budget accounting).

Scale shape: a single global concatenation order would force one
worker to own the running total. Instead documents are first assigned
to `n_buckets` deterministic streams (doc_id mod — stable under
reruns) and packed independently per stream: the running-sum window
partitions by bucket, so the sort + cumsum parallelize across
buckets, and each training shard reads one bucket's packs. All
arithmetic is integer (token counts), so pack assignment is
bit-reproducible anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_expr


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """(doc_id, n_tokens, bucket, pack_id, start_in_pack): which training
    sequence each document's FIRST token lands in, and where.

    Within a bucket, documents are concatenated in doc_id order;
    pack_id = floor(start_offset / seq_len). A document whose tokens
    straddle a boundary spans pack_id and pack_id+1 (and more, if
    longer than seq_len) — consumers cut mid-document, the
    concat-and-chunk contract. Zero-token documents occupy no space
    but keep a deterministic position (start of their would-be slot).
    """
    n_tok = F.size(tokens_expr("text")).cast("long")
    id_type = docs.schema["doc_id"].dataType.simpleString()
    if id_type in ("string", "varchar"):
        # non-numeric ids: deterministic md5 bucket (engine-portable —
        # same expression is ANSI/DuckDB-expressible, unlike xxhash64)
        bucket = F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id")), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        ).cast("int")
    else:
        bucket = F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int")
    base = docs.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        bucket.alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = base.withColumn("_cum", F.sum("n_tokens").over(w))
    start = F.col("_cum") - F.col("n_tokens")
    return with_cum.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.expr(f"(_cum - n_tokens) DIV {seq_len}").alias("pack_id"),
        (start % F.lit(seq_len)).alias("start_in_pack"),
    )
