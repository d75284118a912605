"""Deterministic corpus splitting and sampling.

Training-data pipelines need document→split assignment that is (a)
stable under corpus growth (a doc never migrates between train and
test when new data arrives), (b) reproducible across engines and
runs, and (c) map-only at 100 TB. Every operator here keys each
decision off md5(salt | doc_id), with a fixed salt per operator: no
RNG state, no shuffle, no driver participation — and an exact DuckDB oracle
(CAST('0x' || substr(md5(..), 1, 8) AS BIGINT) is the SQL twin of
Spark's conv(.., 16, 10)).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^32 buckets from the first 8 md5 hex chars: uniform on [0, 2^32)
_BUCKETS = 1 << 32


def hash_bucket_expr(id_col: Column, salt: str) -> Column:
    """Uniform bucket in [0, 2^32) from md5(salt | '|' | id)."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def assign_splits(df: DataFrame, splits: Mapping[str, float] | None = None) -> DataFrame:
    """Add a `split` column assigning each row to a named fraction.

    `splits` maps name → weight (normalized internally); cut points are
    laid out in the given (insertion) order over the hash-bucket space,
    so the same doc_id (salt "split") always lands in the same split —
    adding or removing OTHER documents never moves an existing one (unlike
    randomSplit, which reassigns on every ordering change). Map-only:
    no shuffle, no RNG, no driver state.
    """
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    total = float(sum(splits.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    bucket = hash_bucket_expr(F.col("doc_id"), "split")
    expr: Column | None = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name] / total
        cut = int(acc * _BUCKETS)
        branch = bucket < F.lit(cut)
        expr = F.when(branch, F.lit(name)) if expr is None else expr.when(
            branch, F.lit(name)
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", out)


def hash_sample(df: DataFrame, fraction: float) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose hash bucket
    falls below fraction · 2^32. Same guarantees as assign_splits —
    a row's membership depends only on its doc_id (salt "sample"), so
    re-running on a grown corpus keeps every previously sampled row (monotone,
    resumable sampling; df.sample() reshuffles membership per run).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    cut = int(fraction * _BUCKETS)
    return df.where(hash_bucket_expr(F.col("doc_id"), "sample") < F.lit(cut))


def weighted_hash_sample(
    df: DataFrame,
    rate_col: str | Column,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic Bernoulli sample with a PER-ROW keep probability
    (e.g. a quality score in [0,1]): keep iff bucket < rate · 2^32.
    The quality-proportional downsampling step of data-curation
    pipelines (CCNet-style quality buckets), with the same
    growth-stable membership guarantee as `hash_sample` — a row's fate
    depends only on (salt, doc_id, its own rate), never on other rows.
    Rates are clamped to [0, 1]; map-only."""
    rate = F.col(rate_col) if isinstance(rate_col, str) else rate_col
    clamped = F.least(F.greatest(rate, F.lit(0.0)), F.lit(1.0))
    cut = (clamped * F.lit(float(_BUCKETS))).cast("long")
    return df.where(hash_bucket_expr(F.col("doc_id"), salt) < cut)


def mix_corpus(docs: DataFrame, weights: Mapping[str, float]) -> DataFrame:
    """Domain mixing: downsample `source` groups so the output composition
    approaches the target `weights`, keeping every row of the most
    under-represented (binding) group and none from groups absent in
    `weights`.

    rate_g = (w_g / n_g) / max_h(w_h / n_h) — the binding group gets
    rate 1.0, every other group is thinned deterministically
    (hash-keyed, growth-stable) toward the target ratio. Expected
    output composition equals `weights` exactly; realized counts
    fluctuate by the Bernoulli noise of the hash sample.

    Two jobs: a group-count aggregation (tiny result, broadcast back)
    and the map-only filtered scan. No shuffle of the corpus itself.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("mix weights must sum to a positive value")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    ratios = {
        g: (weights[g] / total) / counts[g]
        for g in weights
        if counts.get(g)
    }
    if not ratios:
        raise ValueError("no weighted group present in the corpus")
    binding = max(ratios.values())
    rate = None
    for g, r in ratios.items():
        branch = F.lit(r / binding)
        rate = (
            F.when(F.col("source") == g, branch)
            if rate is None
            else rate.when(F.col("source") == g, branch)
        )
    rate = rate.otherwise(F.lit(0.0))
    return weighted_hash_sample(docs, rate, salt="mix")


def stratified_split(
    docs: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
) -> DataFrame:
    """EXACT-proportion train/val/test split per stratum: within each
    stratum, rows are ordered by a salted md5 of the doc_id (deterministic,
    uncorrelated with content) and cut at floor(n·f) boundaries —
    every stratum lands within 1 row of its target fraction, unlike
    the Bernoulli `assign_splits` whose per-stratum counts fluctuate
    √n. The price is one window sort per stratum (Bernoulli is
    map-only); use this when per-domain quotas must be exact.

    `fractions` maps split name → fraction, summing to <= 1; the
    remainder goes to the LAST listed split. Deterministic: same
    ids → same assignment (salt "strat"), regardless of row order.
    """
    from pyspark.sql import Window

    names = list(fractions)
    fracs = [float(fractions[k]) for k in names]
    if not names or sum(fracs) > 1.0 + 1e-9:
        raise ValueError("fractions must be non-empty and sum to <= 1")
    h = F.md5(
        F.concat(F.lit("strat"), F.lit("|"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy(h, F.col("doc_id"))
    wn = Window.partitionBy(strata_col)
    ranked = docs.select(
        F.col("doc_id"),
        F.col(strata_col),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    # cumulative cut points: split i covers rows (cut_{i-1}, cut_i];
    # the last split is the CASE default, absorbing any remainder
    cum = 0.0
    conds = []
    for name, frac in zip(names[:-1], fracs[:-1]):
        cum += frac
        conds.append((name, cum))
    expr = F.lit(names[-1])
    for name, cumf in reversed(conds):
        expr = F.when(
            F.col("_rn") <= F.floor(F.lit(cumf) * F.col("_n")), F.lit(name)
        ).otherwise(expr)
    return ranked.select("doc_id", strata_col, expr.alias("split"))
