"""Deduplication operators for large-scale training-data pipelines.

Families, all shuffle-conscious:
- exact: hash-groupBy on md5(text) — one shuffle on a short key.
- minhash + LSH: shingle → K keyed-md5 minhashes → band keys →
  capped bucket collect for candidates → exact Jaccard verify. The
  band-key exchange is the only data-scale shuffle; candidate
  verification never cross-joins the corpus.
- simhash: 16-bit sign-aggregated fingerprint; near-dups share
  fingerprints (or differ by few bits).
- n-gram Jaccard: blocked pairwise Jaccard via prefix-filtered
  candidate generation (PPJoin-style, exact) + full-set verify.
- embedding near-dup: blocked pairwise cosine (caller's block column or
  a hyperplane sign code).
- duplicated spans: token spans whose k-grams recur in another
  document (Lee et al. 2022), and their removal.
- connected components: duplicate pairs → clusters with a canonical
  min-id representative.
- incremental twins of minhash, n-gram, embedding and span dedup: a
  delta probes a snapshotted index (`minhash_index`, `ngram_index`,
  `embedding_index`, `span_gram_index`) and emits exactly the full
  run's results that touch the delta.

Both Jaccard families verify candidates with the one exact
shingle-set verify (`_verify_jaccard`). All hashing is md5-based
(functions.hashing) so every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import bind_once, tokens_expr, word_shingles_expr


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical texts: (content_md5, survivor_id, dup_count).
    survivor = min id; only groups with >1 member are duplicates but
    all groups are returned (dup_count tells)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """(id, band_id, band_key) — LSH bucketing keys. band_key is the
    concat of rows_per_band adjacent minhash signatures.

    Signatures come 4 per md5 (functions.hashing.sliced_min_expr): each
    non-overlapping 32-bit slice of a keyed md5 is an independent
    uniform hash, so num_hashes signatures cost ceil(num_hashes/4)
    digests per shingle instead of num_hashes — the digest work is the
    dominant map-side cost of this operator.

    `shingles_col` (optional): use an already-computed shingle-array
    column instead of re-tokenizing text — the index-build path
    materializes the shingle table once and derives both the bands and
    the verify-side arrays from it (signature mins are identical over
    distinct or raw shingle arrays, so either form works).
    """
    from ..functions.hashing import SLICES_PER_MD5, md5_group_expr, sliced_min_expr

    # Empty-shingle docs must be dropped (their band_key would be the
    # constant '' — one giant fake bucket). Filter on the CHEAP
    # equivalent predicate (token count >= n ⟺ shingle set nonempty ⟺
    # signature non-NULL) instead of the signature itself: a filter on
    # the signature column is pushed below the projection (and below
    # any upstream repartition), re-evaluating the whole tokenize→
    # digest pipeline inside the predicate — interpreted, once per row,
    # in whatever narrow parallelism the raw scan has.
    if shingles_col is None:
        eligible = docs.where(F.size(tokens_expr(text_col)) >= shingle_n)
        sh_expr = word_shingles_expr(text_col, shingle_n)
    else:
        eligible = docs.where(F.size(F.col(shingles_col)) > 0)
        sh_expr = F.col(shingles_col)
    # materialize the shingle array, then the md5 arrays, each ONCE —
    # referencing the builder expressions inside every signature would
    # re-run the tokenize/digest pipeline per signature (no CSE across
    # independent higher-order expressions; ~8x the scan cost)
    with_sh = eligible.select(F.col(id_col), sh_expr.alias("_sh"))
    n_groups = (num_hashes + SLICES_PER_MD5 - 1) // SLICES_PER_MD5
    with_h = with_sh.select(
        F.col(id_col),
        *[md5_group_expr(F.col("_sh"), g).alias(f"_h{g}") for g in range(n_groups)],
    )
    sigs = [
        sliced_min_expr(
            F.col(f"_h{i // SLICES_PER_MD5}"), i % SLICES_PER_MD5
        ).alias(f"_mh{i}")
        for i in range(num_hashes)
    ]
    with_sigs = with_h.select(F.col(id_col), *sigs)
    bands = num_hashes // rows_per_band
    # one row per (doc, band) via a single explode — a unionAll of
    # per-band selects would re-evaluate the whole tokenize→shingle→
    # digest subtree once PER BAND (union branches share no work),
    # quadrupling the dominant map-side cost at the default 4 bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_mh{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return with_sigs.select(
        F.col(id_col), F.explode(band_structs).alias("_bk")
    ).select(F.col(id_col), F.col("_bk.band_id"), F.col("_bk.band_key"))


def lsh_hot_buckets(
    bands: DataFrame, max_bucket_size: int
) -> DataFrame:
    """Audit view: (band_id, band_key, bucket_size) for every LSH
    bucket LARGER than the cap — the buckets `minhash_lsh_pairs`
    excludes. No silent caps: count/inspect this before trusting a
    capped run (`lsh_hot_buckets(minhash_band_keys(docs), B).count()`)."""
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket_size)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Candidate pairs from shared LSH bands, verified with exact
    shingle-set Jaccard. Returns (id_a, id_b, jaccard), id_a < id_b.

    Scale: a hot bucket (one band_key shared by d docs — boilerplate
    text) implies d² candidate pairs; AQE splits skewed partitions but
    not the pair blow-up itself. Bucket counts come from a window over
    the single (band_id, band_key) shuffle and over-cap rows are
    dropped before any member array is built, so both the collect_list
    aggregation buffer and the pair expansion are bounded by
    `max_bucket_size` — one signature computation, one shuffle. Docs
    in a dropped bucket can still pair through their other
    `num_hashes/rows_per_band` bands. Groups of >cap near-identical
    docs are the exact-dedup operator's job (`exact_duplicates` first,
    then LSH on survivors); use `lsh_hot_buckets` to audit what a cap
    excluded.
    """
    bands = minhash_band_keys(docs, id_col, text_col, num_hashes, rows_per_band, shingle_n)
    # materialize the (small) candidate set once: it feeds both the
    # verify join and the candidate-id prune, and without the
    # checkpoint each use would re-run the signature pipeline
    cand = _minhash_candidates(bands, id_col, max_bucket_size).localCheckpoint(
        eager=True
    )
    sh = docs.select(
        F.col(id_col),
        F.array_distinct(word_shingles_expr(text_col, shingle_n)).alias("_sh"),
    )
    return _verify_jaccard(cand, sh, id_col, jaccard_threshold)


_MAX_VERIFY_BROADCAST_IDS = 4_000_000  # ids; ~32 MB of longs broadcast


def _verify_jaccard(
    cand: DataFrame, shingles: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard verify of checkpointed (id_a, id_b)
    candidates against (id, _sh) distinct shingle arrays: (id_a, id_b,
    jaccard) for the pairs with jaccard >= threshold."""
    # shingle only the docs that appear in some candidate pair: the
    # verify join is inner on the candidate ids, so pre-filtering is
    # result-identical and skips re-tokenizing the whole corpus twice.
    # Broadcast only when the candidate set is provably small (counted
    # on the checkpointed candidates — no extra computation); an
    # extreme candidate set falls back to the full-corpus verify join.
    if cand.count() * 2 <= _MAX_VERIFY_BROADCAST_IDS:
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionAll(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        shingles = shingles.join(F.broadcast(ids), id_col, "leftsemi")
    na, nb = F.size("_sa"), F.size("_sb")
    return (
        cand.join(
            shingles.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")),
            "id_a",
        )
        .join(
            shingles.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")),
            "id_b",
        )
        # size-ratio prune before the exact verify: J(A,B) >= t implies
        # min(|A|,|B|) >= t*max(|A|,|B|); epsilon keeps the float
        # product from rounding above an exactly-borderline min
        .where(
            F.least(na, nb).cast("double")
            >= F.lit(threshold) * F.greatest(na, nb) - F.lit(1e-9)
        )
        # |A∪B| = na + nb - |A∩B| exactly (the arrays are distinct), so
        # the union array is never built — same integers, same double
        .withColumn("_c", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn("jaccard", F.col("_c") / (na + nb - F.col("_c")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("jaccard"))
    )


def _minhash_candidates(
    bands: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """(id_a, id_b) candidate pairs from shared LSH bands — the lazy
    plan `minhash_lsh_pairs` checkpoints (plan shape pinned in
    tests/test_plans.py).

    Count FIRST via a WINDOW over the one (band_id, band_key) shuffle,
    filter over-cap / singleton rows, then collect — the cap must bound
    the aggregation buffer itself, not just downstream pair expansion.
    The window's count needs no second pass: the expensive
    minhash-signature map (md5 per shingle per hash family — the
    dominant cost of this operator) runs ONCE, the bands table is
    shuffled ONCE, and the groupBy after the filter reuses the window's
    hash-partitioning on the same keys (EnsureRequirements adds no new
    Exchange; asserted in tests/test_plans.py). A 10⁶-doc boilerplate
    band_key never materializes a 10⁶-element collect_list row:
    WindowExec buffers its group with a spillable sorter, counts it,
    and the filter drops every row of the hot bucket before any array
    is built. (A count-then-semi-join form computed the signatures
    twice and shuffled the full bands table twice — measured 2.35×
    slower.)"""
    w = Window.partitionBy("band_id", "band_key")
    buckets = (
        bands.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
        .groupBy("band_id", "band_key")
        .agg(F.collect_list(id_col).alias("_ids"))
    )
    # bind the sorted array once: captured inside the pair lambdas
    # it would re-sort the bucket per emitted pair element
    pair_arr = bind_once(
        F.array_sort("_ids"),
        lambda ids: F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + F.lit(2), F.size(ids)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
    )
    return (
        buckets.select(F.explode(pair_arr).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over token multiset: bit b = sign of the sum over
    tokens of ±count, where the token votes +1 on bit b iff hex digit b
    of md5(token) >= '8'. Returns (id, simhash int)."""
    # One shuffle total: each token occurrence votes ±1 on all 16 bits
    # at once via 16 conditional-sum aggregate columns over a single
    # groupBy(id) — map-side partial aggregation collapses every
    # partition to one 16-column row per doc before the exchange.
    # (Summing ±1 per occurrence equals the definition's ±count per
    # distinct token, so no (id, token) pre-count is needed; the
    # earlier form's 16-way posexplode of hex digits expanded every
    # token row 16× and paid two extra shuffles.)
    toks = docs.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    ).withColumn("_h", F.substring(F.md5("tok"), 1, 16))
    sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.substring("_h", b + 1, 1) >= F.lit("8"), F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"_s{b}")
            for b in range(16)
        ]
    )
    fingerprint = None
    for b in range(16):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select(
        F.col(id_col), fingerprint.cast("long").alias("simhash")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard, exact: only doc pairs within
    the same block are compared (use a cheap pre-cluster — source,
    language, simhash byte — as block), and candidates come from a
    rarity-ordered prefix filter so high-df shingles never explode the
    join (exactness argument in `_prefix_pairs`)."""
    # filter on the cheap token-count predicate, not on size(_sh): a
    # filter referencing the computed shingle column is pushed below
    # the projection and re-evaluates the whole shingle pipeline inside
    # the predicate (interpreted, and below any upstream repartition)
    sh = docs.where(F.size(tokens_expr(text_col)) >= shingle_n).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.array_distinct(word_shingles_expr(text_col, shingle_n)).alias("_sh"),
    )
    # per-doc shingle count is size(_sh) — carried through the explode
    # rather than recomputed with a second window over the full index
    inv = sh.select(
        "_blk", F.col(id_col), F.size("_sh").alias("_n"),
        F.explode("_sh").alias("_g"),
    )
    # document frequency via a window over the (block, shingle)
    # exchange instead of a groupBy+join: the inverted index is scanned
    # and shuffled ONCE (the groupBy+join form evaluated the
    # tokenize→shingle→explode pipeline twice — once for the counts,
    # once for the probe side — and shuffled both)
    w_df = Window.partitionBy("_blk", "_g")
    w_rank = Window.partitionBy("_blk", id_col).orderBy("_df", "_g")
    ranked = inv.withColumn("_df", F.count(F.lit(1)).over(w_df)).withColumn(
        "_r", F.row_number().over(w_rank)
    )
    prefix = _prefix(ranked, id_col, threshold)
    cand = _prefix_pairs(prefix, id_col, threshold).localCheckpoint(eager=True)
    return _verify_jaccard(cand, sh.select(F.col(id_col), "_sh"), id_col, threshold)


def _prefix(ranked: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Checkpointed PPJoin prefix (_blk, id, _g, _r, _n): the first
    n - ceil(t·n) + 1 shingles of each doc under its rank `_r` in the
    global (df asc, shingle asc) order; `_n` is the doc's set size. It
    feeds both sides of the candidate self-join (and the incremental
    probe), so it is materialized once instead of re-running the rank
    windows per side."""
    # epsilon guards the float ceil from rounding t*n up past the exact
    # integer and shortening the prefix below the safe bound
    prefix_len = F.col("_n") - F.ceil(
        F.lit(threshold) * F.col("_n") - F.lit(1e-9)
    ) + F.lit(1)
    return (
        ranked.where(F.col("_r") <= prefix_len)
        .select("_blk", F.col(id_col), "_g", "_r", "_n")
        .localCheckpoint(eager=True)
    )


def _prefix_pairs(prefix: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Lazy (id_a, id_b) candidates, id_a < id_b, from the prefix
    self-join on (_blk, _g) and the PPJoin positional filter (Xiao et
    al., WWW 2008). Both steps are exact — no pair with J >= t is lost:

    - Prefix filter: if J(A,B) >= t then |A∩B| >= t·max(|A|,|B|), so
      the globally-smallest shared shingle sits within both prefixes.
      Unlike a full inverted index, where one shingle of block document
      frequency df emits O(df²) join rows, high-df shingles sort LAST
      and essentially never enter a prefix.
    - Positional filter: the smallest matched shingle IS the globally
      smallest shared one (both prefixes follow the same order, so a
      smaller shared shingle would itself sit in both prefixes and
      match). Every other shared shingle ranks after it on both sides,
      so |A∩B| <= 1 + min(na - ra0, nb - rb0), while J >= t needs
      |A∩B| >= t(na+nb)/(1+t). Pairs whose bound falls short are
      dropped before the verify pays for their array intersections
      (the epsilon keeps a borderline bound from being floored out:
      false keeps are fine, false drops are not).
    """
    a = prefix.select(
        "_blk",
        F.col(id_col).alias("id_a"),
        "_g",
        F.col("_r").alias("_ra"),
        F.col("_n").alias("_na"),
    )
    b = prefix.select(
        "_blk",
        F.col(id_col).alias("id_b"),
        "_g",
        F.col("_r").alias("_rb"),
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, ["_blk", "_g"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.min("_ra").alias("_ra0"),
            F.min("_rb").alias("_rb0"),
            F.min("_na").alias("_na"),
            F.min("_nb").alias("_nb"),
        )
        .where(
            (
                F.lit(1)
                + F.least(
                    F.col("_na") - F.col("_ra0"), F.col("_nb") - F.col("_rb0")
                )
            ).cast("double")
            >= F.lit(threshold / (1.0 + threshold))
            * (F.col("_na") + F.col("_nb"))
            - F.lit(1e-9)
        )
        .select("id_a", "id_b")
    )


def ngram_index(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the reusable n-gram inverted index for a corpus — the
    snapshot `ngram_jaccard_pairs_incremental` probes so delta runs
    never re-shingle the prior corpus. Returns (posting, shingles, df):

    - posting: (_blk, id, _g) one row per (doc, distinct shingle) —
      the full posting lists;
    - shingles: (id, _sh) full per-doc shingle arrays (exact-verify
      side);
    - df: (_blk, _g, _df) per-block document frequencies. Appending a
      delta's df rows keeps MULTIPLE rows per key; consumers re-sum —
      folding a delta in is an append, never a rewrite.

    Each table is localCheckpoint'ed, staged so the corpus is
    tokenized and shingled exactly ONCE (posting and df derive from the
    materialized shingle table); checkpointing the three lazy outputs
    separately would pay three full shingle passes.
    """
    sh = (
        docs.where(F.size(tokens_expr(text_col)) >= shingle_n)
        .select(
            F.col(block_col).alias("_blk"),
            F.col(id_col),
            F.array_distinct(word_shingles_expr(text_col, shingle_n)).alias("_sh"),
        )
        .localCheckpoint(eager=True)
    )
    posting = sh.select(
        "_blk", F.col(id_col), F.explode("_sh").alias("_g")
    ).localCheckpoint(eager=True)
    dfreq = (
        posting.groupBy("_blk", "_g")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
        .localCheckpoint(eager=True)
    )
    return posting, sh.select(F.col(id_col), "_sh"), dfreq


def ngram_jaccard_pairs_incremental(
    new_docs: DataFrame,
    prior_posting: DataFrame,
    prior_shingles: DataFrame,
    prior_df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.3,
    max_broadcast_keys: int = 1_000_000,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Incremental exact n-gram Jaccard: pairs touching the DELTA only,
    probed against a snapshotted inverted index — the prior corpus is
    never re-shingled. Returns (pairs, new_posting, new_shingles,
    new_df); append the three index deltas to the snapshots to fold the
    delta in for the next run (df rows accumulate per key and are
    re-summed here).

    Exactness under a stale index: delta prefixes are computed under
    the COMBINED document frequencies (prior df rows + delta's), so
    delta×delta candidates come from the standard prefix×prefix join.
    For delta×prior the delta prefix joins the prior's FULL posting
    lists: if J(A,B) >= t then |A∩B| >= ceil(t·|A|), and if none of
    those shared shingles sat in A's prefix they would all have to fit
    in the ceil(t·|A|)-1 positions after it — contradiction. So A's
    prefix alone guarantees no qualifying (delta, prior) pair is lost,
    without ever recomputing prior prefixes under the new frequencies.
    Candidates are a (slight) superset of the batch operator's; the
    exact verify makes the emitted pairs identical to a full re-run's
    pairs that touch the delta (tested).
    """
    # the delta's checkpointed posting rows feed the combined document
    # frequencies, the per-doc counts, the ranked join, and the
    # broadcast-pricing count below without re-shingling the delta
    new_posting, new_shingles, new_df = ngram_index(
        new_docs, block_col, id_col, text_col, shingle_n
    )
    # the combined frequencies are only consumed through an inner join
    # with the DELTA's posting rows, so only grams the delta holds
    # matter: semi-join the prior df table down to those grams before
    # aggregating it (result-identical; a full prior-vocabulary
    # aggregation scales with the CORPUS, not the delta). Broadcast the
    # delta gram set when provably small — posting rows upper-bound
    # distinct grams; counted on the checkpoint, so pricing costs no
    # recomputation.
    delta_small = new_posting.count() <= max_broadcast_keys
    delta_grams = new_posting.select("_blk", "_g").distinct()
    if delta_small:
        delta_grams = F.broadcast(delta_grams)
    combined_df = (
        prior_df.join(delta_grams, ["_blk", "_g"], "leftsemi")
        .unionByName(new_df)
        .groupBy("_blk", "_g")
        .agg(F.sum("_df").alias("_df"))
    )
    n_per_doc = new_posting.groupBy("_blk", id_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    w_rank = Window.partitionBy("_blk", id_col).orderBy("_df", "_g")
    ranked = (
        new_posting.join(combined_df, ["_blk", "_g"])
        .join(n_per_doc, ["_blk", id_col])
        .select(
            "_blk",
            F.col(id_col),
            "_g",
            F.row_number().over(w_rank).alias("_r"),
            "_n",
        )
    )
    # the prefix feeds both sides of the delta×delta join AND the
    # delta×prior probe (delta-bounded)
    prefix = _prefix(ranked, id_col, threshold)
    dd = _prefix_pairs(prefix, id_col, threshold)
    # delta×prior has no prior-side ranks, so it keeps the plain pair
    # join. Prune the prior posting lists map-side to the delta-prefix
    # grams before the join shuffles them — the probe then moves
    # delta-touched posting rows only, never the full prior index
    prefix_grams = prefix.select("_blk", "_g").distinct()
    if delta_small:
        prefix_grams = F.broadcast(prefix_grams)
    dp = (
        prefix.select("_blk", F.col(id_col).alias("id_a"), "_g")
        .join(
            prior_posting.join(prefix_grams, ["_blk", "_g"], "leftsemi")
            .select("_blk", F.col(id_col).alias("id_b"), "_g"),
            ["_blk", "_g"],
        )
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    cand = dd.unionByName(dp).distinct().localCheckpoint(eager=True)
    pairs = _verify_jaccard(
        cand, prior_shingles.unionByName(new_shingles), id_col, threshold
    )
    return pairs, new_posting, new_shingles, new_df


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    auto_block_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, always blocked.

    With `block_col`, pairs are compared within the caller's blocks
    (exact within blocks). Without one, the operator blocks on a
    deterministic hyperplane sign code of the embedding
    (`similarity.hyperplane_bucket_expr`, `auto_block_bits` bits) —
    the unblocked call is APPROXIMATE (a near-dup pair straddling a
    sign boundary is missed; at cos >= 0.95 the sign pattern rarely
    differs) but bounded: 2^bits buckets of ~|V|/2^bits rows each
    instead of the |V|² cross join a naive default would execute.
    """
    from ..functions.vectors import cosine_prenorm_expr, norm_expr
    from .similarity import hyperplane_bucket_expr

    if block_col:
        blk = F.col(block_col)
    else:
        blk = hyperplane_bucket_expr(F.col(emb_col), bits=auto_block_bits)
    # norms hoisted out of the pair stage: computed once per vector
    # here, so each of the O(block²) pairs evaluates one O(dim) dot
    # instead of three O(dim) folds (bit-identical — same op order)
    v = vectors.select(
        F.col(id_col),
        F.col(emb_col),
        blk.alias("_blk"),
        norm_expr(F.col(emb_col)).alias("_nrm"),
    )
    a = v.select(
        F.col("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("_ea"),
        F.col("_nrm").alias("_na"),
    )
    b = v.select(
        F.col("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("_eb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            cosine_prenorm_expr(
                F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb")
            ),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos"))
    )


def embedding_neardup_pairs_incremental(
    new_vectors: DataFrame,
    prior_index: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    auto_block_bits: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental embedding near-dup: delta vectors probe the prior
    corpus's snapshotted hyperplane-bucket index — (id, embedding,
    _blk) rows from `embedding_index` — and emit cosine pairs touching
    the delta (delta×prior and delta×delta). The hyperplane code of a
    vector never changes, so the index is append-only: fold a delta in
    by appending its returned index rows, identical to the MinHash and
    n-gram incremental contracts. Same approximation as the batch
    auto-blocked operator (a near-dup straddling a sign boundary is
    missed), so incremental == batch pairs touching the delta,
    exactly (tested).

    Returns (pairs, new_index_rows).
    """
    from ..functions.vectors import cosine_prenorm_expr, norm_expr

    new_index = embedding_index(new_vectors, id_col, emb_col, auto_block_bits)
    # norms hoisted out of the pair stage (see embedding_neardup_pairs)
    d = new_index.select(
        "_blk",
        F.col(id_col).alias("_ida"),
        F.col(emb_col).alias("_ea"),
        norm_expr(F.col(emb_col)).alias("_na"),
    )
    u = new_index.unionByName(prior_index).select(
        "_blk",
        F.col(id_col).alias("_idb"),
        F.col(emb_col).alias("_eb"),
        norm_expr(F.col(emb_col)).alias("_nb"),
    )
    pairs = (
        d.join(u, "_blk")
        .where(F.col("_ida") != F.col("_idb"))
        .withColumn(
            "cos",
            cosine_prenorm_expr(
                F.col("_ea"), F.col("_eb"), F.col("_na"), F.col("_nb")
            ),
        )
        .where(F.col("cos") >= threshold)
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "cos",
        )
        .distinct()
    )
    return pairs, new_index


def embedding_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    auto_block_bits: int = 8,
) -> DataFrame:
    """Build the snapshot index `embedding_neardup_pairs_incremental`
    probes: (id, embedding, _blk hyperplane code). Append deltas'
    returned index rows to fold them in."""
    from .similarity import hyperplane_bucket_expr

    return vectors.select(
        F.col(id_col),
        F.col(emb_col),
        hyperplane_bucket_expr(F.col(emb_col), bits=auto_block_bits).alias(
            "_blk"
        ),
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-pair graph → clusters: (id, component) where
    component = min id reachable through pairs. This is the step that
    turns every pairwise dedup operator's output (MinHash-LSH, n-gram
    Jaccard, embedding near-dup, ...) into actionable duplicate
    GROUPS with a canonical representative.

    Algorithm: iterative min-label propagation —
      label(v) ← min(label(v), min over neighbors label(u))
    to a fixpoint. Each round is one join + one aggregation on the
    (bounded) pair list; the driver holds only the scalar
    changed-count. Rounds needed = component diameter; duplicate
    clusters are near-cliques (diameter ≤ ~2-3 via their shared
    bucket), so convergence is fast regardless of corpus size.

    Long-chain fallback: if the plain propagation hasn't converged
    after max_iterations rounds (pathological chain-shaped pair
    graphs — diameter ≈ n), the loop switches to min-label
    propagation WITH POINTER DOUBLING (hash-to-min: each round also
    adopts the label of one's current label-node, halving remaining
    chain depth), which converges in O(log diameter) extra rounds at
    the cost of one extra key join per round — so a 10⁴-node chain
    finishes instead of raising, while the common near-clique case
    never pays the extra join.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)  # cut lineage for the loop
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nmin", F.col("component")) < F.col("component")
                ).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.where(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            return labels
    # Pointer-doubling fallback: label(v) ← min(label(v), neighbor
    # labels, label(label(v))). The extra self-join halves the
    # remaining chain depth every round → ≤ ~log2(n) rounds; 64 covers
    # any graph that fits in 64-bit ids.
    for _ in range(64):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nmin", F.col("component"))
            ).alias("component"),
        )
        parent = stepped.select(
            F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
        )
        doubled = (
            stepped.join(parent, stepped.component == parent._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("_pcomp", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .where(F.col("n.component") < F.col("o.component"))
            .count()
        )
        labels = doubled
        if changed == 0:
            return labels
    raise RuntimeError(
        "connected_components did not converge even with pointer "
        "doubling — malformed pair graph?"
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the snapshot `minhash_lsh_pairs_incremental` probes:
    (bands, shingles) — the `minhash_band_keys` rows and the (id, _sh)
    distinct shingle arrays. The corpus is tokenized and shingled
    exactly ONCE: the shingle table is localCheckpoint'ed and the band
    signatures derive from it (`shingles_col`; signature mins are
    identical over distinct arrays), then the bands are checkpointed
    too. Append a delta's returned rows to fold it in."""
    shingles = docs.select(
        F.col(id_col),
        F.array_distinct(word_shingles_expr(text_col, shingle_n)).alias("_sh"),
    ).localCheckpoint(eager=True)
    bands = minhash_band_keys(
        shingles,
        id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        shingles_col="_sh",
    ).localCheckpoint(eager=True)
    return bands, shingles


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    prior_bands: DataFrame,
    prior_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 500,
    max_broadcast_keys: int = 1_000_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup detection: pairs touching the DELTA only.

    The banded signature table IS a reusable LSH index: a corpus's
    `minhash_index` (bands and distinct shingle sets) can be
    snapshotted once and probed by every subsequent delta — the 100 TB
    prior corpus is never re-tokenized or re-hashed. Returns
    (pairs, new_bands, new_shingles):

    - pairs: (id_a, id_b, jaccard) where at least one side is a delta
      doc — delta×prior collisions AND delta×delta collisions, exact
      Jaccard verified, identical to the pairs a full re-run would
      emit that touch the delta (tests assert this equivalence).
    - new_bands / new_shingles: the delta's `minhash_index` rows;
      append them to the snapshots to fold the delta into the index
      for the next run.

    The bucket cap applies to the COMBINED bucket (prior + delta
    members), same audit contract as the batch operator.

    `max_broadcast_keys` guards the delta-key broadcast: the probe's
    map-side prior-index prune broadcasts the delta's (band_id,
    band_key) set, which is only safe while that set fits the driver.
    The delta's band rows upper-bound that set and are counted on
    their checkpoint; past the threshold the hint is dropped and the
    semi-join falls back to a shuffle (still delta-bounded on one
    side, and AQE may re-broadcast from measured stats) instead of
    OOMing the driver on an oversized delta.
    """
    new_bands, new_shingles = minhash_index(
        new_docs, id_col, text_col, num_hashes, rows_per_band, shingle_n
    )
    nb = new_bands.select("band_id", "band_key", F.col(id_col).alias("_id")).withColumn(
        "_new", F.lit(True)
    )
    pb = prior_bands.select(
        "band_id", "band_key", F.col(id_col).alias("_id")
    ).withColumn("_new", F.lit(False))
    broadcast_delta_keys = new_bands.count() <= max_broadcast_keys
    # materialize the (small) candidate set once: it feeds the verify
    # join and its candidate-id prune
    cand = _minhash_incr_candidates(
        nb, nb.unionByName(pb), max_bucket_size, broadcast_delta_keys
    ).localCheckpoint(eager=True)
    pairs = _verify_jaccard(
        cand, new_shingles.unionByName(prior_shingles), id_col, jaccard_threshold
    )
    return pairs, new_bands, new_shingles


def _minhash_incr_candidates(
    nb: DataFrame,
    u: DataFrame,
    max_bucket_size: int,
    broadcast_delta_keys: bool,
) -> DataFrame:
    """Lazy candidate pairs for the incremental probe (plan shape
    pinned in tests); nb = delta band rows, u = delta ∪ prior.

    Broadcast pruning + windowed count: only buckets a DELTA doc landed
    in can yield new pairs, and the delta's own band keys ARE that
    bucket set — ≤ |delta|·bands keys, broadcastable whenever the delta
    is small relative to the corpus (the operator's whole premise; for
    a delta comparable to the corpus use the batch operator).
    Broadcast-semi-joining them filters the prior index MAP-SIDE, so
    the one shuffle below moves delta-touched rows only, never the
    100 TB prior index. The combined-bucket cap is then enforced like
    the batch path: a window count over the (band_id, band_key)
    shuffle drops over-cap / singleton buckets before any member array
    is built, and the collect_list groupBy reuses the window's
    partitioning — one scan of the prior index, one delta-bounded
    shuffle. (A count-then-semi-join form scanned and shuffled the
    full combined index twice.)"""
    delta_keys = nb.select("band_id", "band_key").distinct()
    if broadcast_delta_keys:
        delta_keys = F.broadcast(delta_keys)
    touched = u.join(delta_keys, ["band_id", "band_key"], "semi")
    w = Window.partitionBy("band_id", "band_key")
    buckets = (
        touched.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
        .groupBy("band_id", "band_key")
        .agg(F.collect_list(F.struct("_id", "_new")).alias("_members"))
    )
    # struct sort: by _id, then _new; bound once (see batch twin)
    pair_arr = bind_once(
        F.array_sort("_members"),
        lambda members: F.flatten(
            F.transform(
                members,
                lambda x, i: F.transform(
                    F.slice(members, i + F.lit(2), F.size(members)),
                    lambda y: F.struct(
                        x.getField("_id").alias("id_a"),
                        y.getField("_id").alias("id_b"),
                        (x.getField("_new") | y.getField("_new")).alias("touches_new"),
                    ),
                ),
            )
        ),
    )
    return (
        buckets.select(F.explode(pair_arr).alias("_p"))
        .where(F.col("_p.touches_new"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_occurrences: int = 1000,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Span-level exact dedup: every maximal token span whose k-token
    grams each recur verbatim in some OTHER document — the operator
    family of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (ACL 2022), where the remedy is cutting the
    duplicated SPAN from the training text, not dropping the document
    (doc-level families here: exact/minhash/simhash/jaccard).

    Output: (doc_id, span_start, span_end, n_tokens, n_grams) over
    `tokens_expr` positions — 0-based token indices, end exclusive;
    n_grams counts the duplicated k-grams the span fused. Two
    duplicated grams fuse when their k-token coverage overlaps or
    touches (gap tolerance k).

    Scale shape (100 TB notes):
    - the gram explode is map-side, ~one row per token, and grams ride
      the shuffle as 128-bit md5 digests, never gram text;
    - ONE exchange on gram_md5 serves BOTH window counts (the
      (gram_md5, doc_id) partition is clustering-satisfied by the
      gram_md5 exchange, so it adds a sort, not a shuffle); the
      cross-doc test is `occ_total > occ_in_this_doc` — no
      collect_set of doc ids ever builds;
    - boilerplate grams hotter than `max_gram_occurrences` are dropped
      by the same window count, spillably, BEFORE any per-doc work —
      the same skew bound the LSH bucket cap applies (document the cap
      when reporting: over-cap grams are not span evidence);
    - the island merge is ONE exchange on doc_id; the final groupBy
      (doc_id, island) reuses it.
    Total: two data-scale exchanges, no join, no driver traffic.
    """
    grams = span_gram_index(docs, id_col, text_col, k)
    w_gram = Window.partitionBy("gram_md5")
    w_gram_doc = Window.partitionBy("gram_md5", "doc_id")
    dup_pos = (
        grams.withColumn("occ_total", F.count(F.lit(1)).over(w_gram))
        .withColumn("occ_doc", F.count(F.lit(1)).over(w_gram_doc))
        .where(
            (F.col("occ_total") > F.col("occ_doc"))
            & (F.col("occ_total") <= max_gram_occurrences)
        )
        .select("doc_id", "pos")
    )
    return _span_islands(dup_pos, k, min_span_tokens)


def span_gram_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """(doc_id, pos, gram_md5) — one row per k-gram occurrence, the
    map-side front of `duplicate_spans` and the persistable index its
    incremental twin probes (store it partitioned/bucketed by
    gram_md5 with a doc_id-sorted secondary layout at real scale; the
    probe touches it via gram-key and doc-key semi-joins only, so both
    access paths want pushdown)."""
    toks = tokens_expr(text_col)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("w")).where(
        F.size("w") >= k
    )
    return base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, k))),
            )
        ).alias("pos", "gram_md5"),
    )


def _span_islands(
    dup_pos: DataFrame, k: int, min_span_tokens: int | None
) -> DataFrame:
    """(doc_id, pos) duplicated gram positions → maximal spans (gap
    tolerance k) on one doc_id exchange; the final groupBy reuses it."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup_pos.withColumn(
            "new_island",
            F.when(F.col("pos") - F.lag("pos").over(w_doc) <= k, F.lit(0))
            .otherwise(F.lit(1)),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .withColumn(
            "n_tokens", (F.col("span_end") - F.col("span_start")).cast("long")
        )
        .select("doc_id", "span_start", "span_end", "n_tokens", "n_grams")
    )
    if min_span_tokens is not None:
        spans = spans.where(F.col("n_tokens") >= min_span_tokens)
    return spans


def duplicate_spans_incremental(
    new_docs: DataFrame,
    prior_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_occurrences: int = 1000,
    min_span_tokens: int | None = None,
    max_broadcast_keys: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Incremental span-level dedup: re-derive spans ONLY for the
    documents a delta can affect, probing the snapshotted
    `span_gram_index` — the prior corpus is never re-tokenized.
    Returns (spans, delta_index); append delta_index to the snapshot
    to fold the delta in for the next run.

    PRECONDITION (same as every incremental twin here): `new_docs`
    holds doc_ids NOT present in the prior index — the delta is new
    documents, not re-ingestions. A re-submitted doc_id would union
    its old and new gram positions and silently inflate occurrence
    counts; route document UPDATES through a full re-run (or drop the
    old doc's index rows first).

    Affected set: the delta docs plus every prior doc sharing at
    least one k-gram with a delta doc. No other doc's duplication
    status can change — a gram absent from the delta keeps its exact
    occurrence counts, so every (gram, doc) dup test outside the
    affected set is unchanged (this includes cap flips: only grams
    the delta pushed over `max_gram_occurrences` flip, and every doc
    holding such a gram shares it with the delta by definition).
    Output contract: exactly the full-run `duplicate_spans` rows for
    the affected docs (hash-verified by the gate; equality with the
    batch operator pinned in tests).

    Scale shape: delta grams are map-side; the prior index is touched
    through (a) one gram-key semi-join bounded by the delta's gram
    vocabulary (broadcast when the delta is provably small —
    `max_broadcast_keys`, counted on the DELTA, the same guard as
    minhash_lsh_pairs_incremental — else shuffle), (b) one doc-key
    semi-join bounded by the affected docs, and (c) one occurrence
    count aggregated over the posting lists of the affected docs'
    grams (semi-join-bounded; global counts, NOT per-affected-doc
    counts, so unaffected occurrences of a shared gram still count).
    The dup test then joins counts back on gram_md5 and the
    (gram, doc) occurrence window rides that same exchange; islands
    are one doc exchange, as in the batch plan.
    """
    # materialize the delta's gram index ONCE (delta-bounded): it is
    # reused by the key probe, the affected-doc union, and all_pos —
    # and the count below then prices the broadcast decision without
    # a second tokenize+explode job
    delta_index = span_gram_index(
        new_docs, id_col, text_col, k
    ).localCheckpoint(eager=True)
    delta_keys = delta_index.select("gram_md5").distinct()
    # delta-bounded count over the checkpoint (cheap); occurrences
    # upper-bound the distinct keys
    if delta_index.count() <= max_broadcast_keys:
        delta_keys = F.broadcast(delta_keys)
    affected = (
        prior_index.join(delta_keys, "gram_md5", "leftsemi")
        .select("doc_id")
        .unionByName(delta_index.select("doc_id"))
        .distinct()
    )
    all_pos = prior_index.unionByName(delta_index)
    pos_aff = all_pos.join(affected, "doc_id", "leftsemi")
    # global occurrence totals for every gram an affected doc holds:
    # aggregated over the FULL position table, semi-join-bounded to
    # those grams (a gram shared with an unaffected doc must still
    # count its unaffected occurrences)
    counts = (
        all_pos.join(
            pos_aff.select("gram_md5").distinct(), "gram_md5", "leftsemi"
        )
        .groupBy("gram_md5")
        .agg(F.count(F.lit(1)).alias("occ_total"))
    )
    w_gram_doc = Window.partitionBy("gram_md5", "doc_id")
    dup_pos = (
        pos_aff.join(counts, "gram_md5")
        .withColumn("occ_doc", F.count(F.lit(1)).over(w_gram_doc))
        .where(
            (F.col("occ_total") > F.col("occ_doc"))
            & (F.col("occ_total") <= max_gram_occurrences)
        )
        .select("doc_id", "pos")
    )
    return _span_islands(dup_pos, k, min_span_tokens), delta_index


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remediation half of span-level dedup: cut the spans found by
    `duplicate_spans` out of the token stream. Every duplicated span
    is removed from every document it appears in (Lee et al. cut the
    repeated occurrence; the keep-one-copy refinement needs a global
    survivor policy — pick one doc per gram cluster — which is a
    policy decision this operator deliberately leaves to the caller:
    filter `spans` to the occurrences you want cut and pass that).

    Output: (doc_id, clean_text, n_tokens, n_tokens_removed) where
    clean_text is the space-joined surviving `tokens_expr` stream —
    the normalized token stream a training pipeline tokenizes anyway
    (span positions are defined over it, so cutting in raw text would
    be ill-posed).

    Scale shape: spans aggregate to one bounded array per doc (≤
    tokens/k entries, strictly smaller than the doc text) on the
    doc_id exchange; the join back to docs is doc-keyed on both sides
    (sort-merge, no broadcast-size assumption); the cut itself is a
    map-side higher-order filter — no Python, no explode back to
    token rows."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    # NULL text → empty token stream (not NULL): without the coalesce
    # a NULL-text row emits NULL sizes and diverges from the oracle's
    # 0-token accounting
    toks = F.coalesce(
        tokens_expr(text_col), F.array().cast("array<string>")
    )
    joined = docs.select(F.col(id_col).alias("doc_id"), toks.alias("w")).join(
        per_doc, "doc_id", "left"
    )
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        F.col("w"),
        lambda x, i: F.size(
            F.filter(
                spans_arr,
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            )
        )
        == 0,
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens"),
        (F.size("w") - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )
