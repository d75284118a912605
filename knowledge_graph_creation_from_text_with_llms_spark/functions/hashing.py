"""Deterministic, cross-engine hashing primitives.

Everything here is built on md5 hex strings because md5 produces
identical output in Spark, DuckDB, and Python — which makes surrogate
IDs, minhash signatures, and simhash bits verifiable engine-vs-engine.
(xxhash64 would be faster JVM-side but is Spark-specific; at 100 TB the
md5 cost is dwarfed by the shuffle it keys.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_qid(col: str | Column, prefix: str = "Q") -> Column:
    """Wikidata-shaped surrogate id: 'Q' + first 8 md5 hex chars.

    Used by synthetic dictionaries where a real Q-id is unavailable;
    deterministic so oracles can rebuild the same dictionary in SQL.
    """
    return F.concat(F.lit(prefix), F.upper(F.substring(F.md5(_c(col)), 1, 8)))


SLICES_PER_MD5 = 4  # 32 hex chars → 4 independent 8-hex (32-bit) slices


def md5_group_expr(shingles: Column, group: int) -> Column:
    """array<md5 hex> of the shingles under keyed-md5 seed `group` —
    materialize this ONCE per group, then derive SLICES_PER_MD5
    signatures from it with `sliced_min_expr` (one md5 per shingle
    yields 4 minhashes instead of 1: the 4 non-overlapping 32-bit
    slices of an md5 are independent uniform hashes, so each slice's
    lexicographic min is a valid min-wise hash — the classic
    few-hashes-many-slices trick, 4× less digest work for the same
    signature count)."""
    return F.transform(
        shingles,
        lambda s: F.md5(F.concat(F.lit(str(group)), F.lit("|"), s)),
    )


def sliced_min_expr(md5_arr: Column, slice_idx: int) -> Column:
    """One minhash signature: lexicographic min of slice `slice_idx`
    (8 hex chars) of each precomputed md5. SQL twin:
    list_aggregate(list_transform(hN, h -> substr(h, 1+8*j, 8)), 'min').
    """
    off = 1 + 8 * slice_idx
    return F.array_min(
        F.transform(md5_arr, lambda h: F.substring(h, off, 8))
    )
