"""Evaluation metrics: P/R/F1 of generated triples vs ground truth.

Reproduces the reference's two evaluators as DataFrame joins:
- strict set match (tests/test_modules/metrics_generator.py:104-126 and
  metrics.py:33-76): TP = inner join on the normalized 3-tuple key,
  FP = left_anti(generated, gt), FN = left_anti(gt, generated).
- relaxed containment (metrics_generator.py:128-157): a GT triple
  counts as found if all three of its normalized components are
  substrings of some generated triple's components — a theta
  (non-equi) join; broadcast the small GT side.
- per-component metrics (metrics.py:78-115): same joins on each of
  subj/pred/obj independently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, normalize_text_expr

_COLS = ("subj", "pred", "obj")


def _normalized(df: DataFrame) -> DataFrame:
    return df.select(
        *[normalize_text_expr(c).alias(c) for c in _COLS]
    ).where(
        (F.col("subj") != "") | (F.col("pred") != "") | (F.col("obj") != "")
    ).distinct()


def strict_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """One row: tp, fp, fn, precision, recall, f1 (triple level).

    Single job: both distinct sets full-outer-joined once; tp/fp/fn
    fall out of one aggregation instead of three separate join+count
    actions (the inner/anti/anti trio re-derived each normalized frame
    per action)."""
    g = _normalized(generated).withColumn("_g", F.lit(1))
    t = _normalized(ground_truth).withColumn("_t", F.lit(1))
    row = (
        g.join(t, list(_COLS), "full")
        .agg(
            F.count(F.when(F.col("_g").isNotNull() & F.col("_t").isNotNull(), 1)).alias("tp"),
            F.count(F.when(F.col("_t").isNull(), 1)).alias("fp"),
            F.count(F.when(F.col("_g").isNull(), 1)).alias("fn"),
        )
        .first()
    )
    return _prf(generated.sparkSession, row["tp"], row["fp"], row["fn"])


def component_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Per-component (subject/predicate/object) P/R/F1 rows, mirroring
    metrics.py:78-115 which compares component *sets*. One job: both
    sides explode to (component, value) pairs, one full outer join,
    one grouped aggregation — not 3 components × 3 actions."""
    def pairs(df: DataFrame, marker: str) -> DataFrame:
        stacked = df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(comp).alias("component"),
                        normalize_text_expr(comp).alias("v"),
                    )
                    for comp in _COLS
                ])
            ).alias("p")
        ).select("p.component", "p.v")
        return (
            stacked.where(F.col("v") != "")
            .distinct()
            .withColumn(marker, F.lit(1))
        )

    g = pairs(generated, "_g")
    t = pairs(ground_truth, "_t")
    counted = (
        g.join(t, ["component", "v"], "full")
        .groupBy("component")
        .agg(
            F.count(F.when(F.col("_g").isNotNull() & F.col("_t").isNotNull(), 1)).alias("tp"),
            F.count(F.when(F.col("_t").isNull(), 1)).alias("fp"),
            F.count(F.when(F.col("_g").isNull(), 1)).alias("fn"),
        )
    )
    rows = [
        (
            r["component"], r["tp"], r["fp"], r["fn"],
            *_scalar_prf(r["tp"], r["fp"], r["fn"]),
        )
        for r in counted.collect()
    ]
    # a component absent from both sides still gets a zero row
    seen = {r[0] for r in rows}
    rows += [(c, 0, 0, 0, 0.0, 0.0, 0.0) for c in _COLS if c not in seen]
    rows.sort(key=lambda r: _COLS.index(r[0]))
    return generated.sparkSession.createDataFrame(
        rows, "component string, tp long, fp long, fn long, precision double, recall double, f1 double"
    )


def relaxed_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Relaxed match, verbatim reference semantics
    (metrics_generator.py:128-157): a GT triple counts as found iff
    some generated triple's component TUPLE contains every non-empty
    normalized GT component as an exact member (`gt_comp in gen` on a
    3-tuple is membership, NOT substring — position-independent).
    Counts are over the raw (duplicate-preserving) lists, and
    fp = len(generated) - tp without clamping, exactly as shipped.

    Executed as a SUBSET-KEY semi-join, not a theta join and not a
    per-value join: "every non-empty GT component is a member of the
    generated tuple" ⟺ sorted-distinct(non-empty GT values) equals
    some non-empty member SUBSET of the tuple (≤ 7 per tuple), so
    emitting each subset's sorted values as one composite key and
    semi-joining GT's key against them is a skew-free equi-join on
    the whole key. The earlier per-value join form matched each GT
    slot value against exploded member values — a constant component
    (a shared predicate string) appears in every tuple on BOTH sides,
    so that one join key fanned out |GT| × |generated| rows: the
    hot-key quadratic of guide §2.4, measured 6.2 s → 2.9 s for this
    rewrite at 50k docs (the gate's shared-predicate workload)."""
    g = generated.select(
        *[normalize_text_expr(c).alias(f"g{c}") for c in _COLS]
    )
    total_gen = g.count()

    # GT grouped by normalized content; multiplicity preserved for the
    # duplicate-preserving reference counts
    t = (
        ground_truth.select(
            *[normalize_text_expr(c).alias(c) for c in _COLS]
        )
        .groupBy(*_COLS)
        .agg(F.count(F.lit(1)).alias("_mult"))
        .withColumn("_n_nonempty", sum(
            F.when(F.col(c) != "", 1).otherwise(0) for c in _COLS
        ))
    )

    # normalize removes [^\w\s], so \x1f never appears in a value —
    # safe composite-key separator
    _SEP = "\x1f"

    def _nonempty_members(cols):
        return F.array_distinct(
            F.filter(F.array(*cols), lambda v: v != F.lit(""))
        )

    # every non-empty member subset of each distinct generated tuple,
    # as a sorted composite key (≤ 7 per tuple; bitmask enumeration
    # over the bound member array)
    # (shiftleft/shiftright take a literal bit count, so the masks use
    # exact small-integer powers: members are capped at 3, bitmask < 8)
    assert len(_COLS) <= 3, "pow bitmasks exact, 2^n - 1 subsets cheap only for <= 3"
    subset_keys = bind_once(
        _nonempty_members(("gsubj", "gpred", "gobj")),
        lambda m: F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.pow(F.lit(2.0), F.size(m).cast("double")).cast("int")
                    - F.lit(1),
                    F.lit(1),
                ),
            ),
            lambda b: F.concat_ws(
                _SEP,
                F.array_sort(
                    F.filter(
                        m,
                        lambda _, i: (
                            F.floor(
                                b.cast("double")
                                / F.pow(F.lit(2.0), i.cast("double"))
                            ).cast("int")
                            % 2
                        )
                        == F.lit(1),
                    )
                ),
            ),
        ),
    )
    gen_keys = (
        g.distinct()
        .select(F.explode(subset_keys).alias("_key"))
        .distinct()
    )

    # GT rows with >= 1 non-empty component match iff their own
    # sorted-distinct-non-empty key appears among the subset keys
    # (all-empty rows are handled by the _n_nonempty == 0 case below)
    full_hits = (
        t.withColumn(
            "_key", F.concat_ws(_SEP, F.array_sort(_nonempty_members(_COLS)))
        )
        .where(F.col("_n_nonempty") > 0)
        .join(gen_keys, "_key", "leftsemi")
        .select(*_COLS)
        .distinct()
        .withColumn("_matched", F.lit(1))
    )
    agg = (
        t.join(full_hits, list(_COLS), "left")
        .agg(
            F.sum("_mult").alias("total_gt"),
            F.sum(
                F.when(
                    # all-empty GT rows match iff any generated row exists
                    (F.col("_matched").isNotNull())
                    | ((F.col("_n_nonempty") == 0) & F.lit(total_gen > 0)),
                    F.col("_mult"),
                ).otherwise(0)
            ).alias("tp"),
        )
        .first()
    )
    tp = int(agg["tp"] or 0)
    total_gt = int(agg["total_gt"] or 0)
    fn = total_gt - tp
    fp = total_gen - tp
    return _prf(generated.sparkSession, tp, fp, fn)


def rouge_n_best(
    generated: DataFrame, ground_truth: DataFrame, n: int = 1
) -> DataFrame:
    """Per distinct generated triple: the best ROUGE-N f-measure over
    all ground-truth triples (metrics_generator.py:159-183 semantics:
    score the space-joined triple texts, keep the max; we omit the
    Porter stemmer — documented divergence of this test-only metric).

    ROUGE-N here is the standard clipped n-gram overlap:
      p = overlap/|gen ngrams|, r = overlap/|gt ngrams|,
      f = 2pr/(p+r); overlap = Σ_g min(count_gen(g), count_gt(g)).
    Computed with native explode/join/groupBy — exact, no UDF.

    Kept next to `rouge_best_match` (which gives the same floats with
    use_stemmer=False) because it is the faster ROUGE-1 path:
    routing gate `kg_metrics_rouge1` through the full scorer, which
    also pays for ROUGE-2 and LCS, took that leaf 3.48 → 5.17 s at
    sf0.1.
    """
    from ..functions.text import tokens_expr, word_shingles_expr

    def grams(df: DataFrame, prefix: str) -> DataFrame:
        text = F.concat_ws(" ", *[F.col(c) for c in _COLS])
        arr = tokens_expr(text) if n == 1 else word_shingles_expr(text, n)
        return df.select(
            *[F.col(c).alias(f"{prefix}{c}") for c in _COLS],
            arr.alias("_g"),
        ).where(F.size("_g") > 0)

    g = grams(generated.distinct(), "").withColumn(
        "_gid", F.md5(F.concat_ws("", *_COLS))
    )
    t = grams(ground_truth.distinct(), "t_").withColumn(
        "_tid", F.md5(F.concat_ws("", *[f"t_{c}" for c in _COLS]))
    )
    gc = g.select("_gid", F.explode("_g").alias("gram")).groupBy(
        "_gid", "gram"
    ).agg(F.count(F.lit(1)).alias("cg"))
    tc = t.select("_tid", F.explode("_g").alias("gram")).groupBy(
        "_tid", "gram"
    ).agg(F.count(F.lit(1)).alias("ct"))
    gsize = g.select("_gid", F.size("_g").alias("ng"))
    tsize = t.select("_tid", F.size("_g").alias("nt"))
    overlap = (
        gc.join(tc, "gram")
        .groupBy("_gid", "_tid")
        .agg(F.sum(F.least("cg", "ct")).alias("ov"))
    )
    scored = (
        overlap.join(gsize, "_gid")
        .join(tsize, "_tid")
        .withColumn("p", F.col("ov") / F.col("ng"))
        .withColumn("r", F.col("ov") / F.col("nt"))
        .withColumn("f", 2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")))
    )
    best = scored.groupBy("_gid").agg(F.max("f").alias("best_f"))
    return (
        g.select("_gid", *_COLS)
        .join(best, "_gid", "left")
        .select(
            *_COLS,
            F.coalesce("best_f", F.lit(0.0)).alias(f"best_rouge{n}_f"),
        )
    )


def rouge_best_match(
    generated: DataFrame,
    ground_truth: DataFrame,
    use_stemmer: bool = True,
) -> DataFrame:
    """Per distinct generated triple: best ROUGE-1 / ROUGE-2 / ROUGE-L
    f-measure over all GT triples — the full metric set of
    metrics_generator.py:159-183 (RougeScorer(["rouge1","rouge2",
    "rougeL"], use_stemmer=True) over " ".join(triple) texts).

    Tokenization mirrors rouge_score: lowercase, [a-z0-9]+ tokens,
    and with use_stemmer a Porter stem applied only to tokens longer
    than 3 chars (functions/stemmer.py — classic 1980 algorithm; the
    reference's NLTK_EXTENSIONS-mode divergences are documented
    there).

    Structure: the GT texts are collected and deduplicated in Python
    (GT is the small evaluation set by construction; this is a
    test-only metric, same as the reference's), then shipped inside
    one plain Python UDF. Each task
    tokenizes, stems and counts them once; the UDF then scores one
    distinct generated row against all of them and returns the three
    maxima. No cross join, no per-pair rows, no groupBy.

    Parallelism: the generated side is hash-partitioned by the triple
    into defaultParallelism partitions, which already clusters it for
    its distinct — one exchange, and one AQE does not coalesce. A
    plain distinct's shuffle is small, so AQE would coalesce it to one
    partition and put the whole scorer on one core; a round-robin
    repartition before the distinct is undone the same way. The UDF
    is a plain (pickled-row) one, not pandas/Arrow: a pandas worker
    holds about twice the resident memory for no speed here.

    ROUGE-L pruning, exact: an LCS is a common subsequence, so its
    length never exceeds the clipped unigram overlap, and for fixed
    token counts f grows with the overlap — ROUGE-L f ≤ ROUGE-1 f for
    every pair. The LCS therefore runs over the GT texts in
    descending ROUGE-1 order and stops as soon as ROUGE-1 f ≤ the best
    ROUGE-L f found so far; no later text can beat it. The maxima are
    the same floats an all-pairs scorer takes (tests/test_metrics.py
    checks this with ==).
    """
    import re as _re

    from pyspark.sql.types import (
        DoubleType, StructField, StructType
    )

    from ..functions.stemmer import porter_stem

    def _toks(text: str) -> list[str]:
        toks = _re.findall(r"[a-z0-9]+", (text or "").lower())
        if use_stemmer:
            toks = [porter_stem(t) if len(t) > 3 else t for t in toks]
        return toks

    def _counts(toks: list[str]) -> dict:
        d: dict = {}
        for t in toks:
            d[t] = d.get(t, 0) + 1
        return d

    def _f(overlap: int, n_gen: int, n_gt: int) -> float:
        if not overlap or not n_gen or not n_gt:
            return 0.0
        p, r = overlap / n_gen, overlap / n_gt
        return 2 * p * r / (p + r)

    def _lcs(a: list[str], b: list[str]) -> int:
        if not a or not b:
            return 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                cur[j] = prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
            prev = cur
        return prev[-1]

    def _prep(text: str):
        toks = _toks(text)
        bi = list(zip(toks, toks[1:]))
        return toks, _counts(toks), len(toks), _counts(bi), len(bi)

    def _overlap(gen: dict, gt: dict) -> int:
        return sum(min(c, gt.get(k, 0)) for k, c in gen.items())

    text_of = F.concat_ws(" ", *[F.col(c) for c in _COLS])
    # deduplicated here, not with a Spark distinct: GT is small, and
    # the distinct's shuffle cost more than the whole collect
    gt_texts = sorted({r[0] for r in ground_truth.select(text_of).collect()})
    gt_prepped: list = []  # per task: the GT texts prepared once

    def _best(gen_text: str) -> tuple[float, float, float]:
        if gt_texts and not gt_prepped:
            gt_prepped[:] = [_prep(t) for t in gt_texts]
        gen_toks, g1, n_g, g2, n_g2 = _prep(gen_text)
        best1 = best2 = best_l = 0.0
        lcs_candidates = []
        for gt_toks, t1, n_t, t2, n_t2 in gt_prepped:
            f1 = _f(_overlap(g1, t1), n_g, n_t)
            best1 = max(best1, f1)
            best2 = max(best2, _f(_overlap(g2, t2), n_g2, n_t2))
            if f1 > 0.0:
                lcs_candidates.append((f1, gt_toks, n_t))
        lcs_candidates.sort(key=lambda c: c[0], reverse=True)
        for f1, gt_toks, n_t in lcs_candidates:
            if f1 <= best_l:
                break
            best_l = max(best_l, _f(_lcs(gen_toks, gt_toks), n_g, n_t))
        return best1, best2, best_l

    score = F.udf(
        _best,
        StructType([
            StructField("rouge1", DoubleType()),
            StructField("rouge2", DoubleType()),
            StructField("rougeL", DoubleType()),
        ]),
        useArrow=False,
    )
    parallelism = generated.sparkSession.sparkContext.defaultParallelism
    return (
        generated.select(*_COLS)
        .repartition(parallelism, *_COLS)
        .distinct()
        .select(*_COLS, score(text_of).alias("_s"))
        .select(
            *_COLS,
            F.col("_s.rouge1").alias("best_rouge1_f"),
            F.col("_s.rouge2").alias("best_rouge2_f"),
            F.col("_s.rougeL").alias("best_rougeL_f"),
        )
    )


def bertscore_pairs(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    dim: int = 16,
    dedup_shared_refs: bool = False,
) -> DataFrame:
    """BERTScore-style token-level greedy matching per (candidate,
    reference) text pair — the semantics of
    metrics_generator.py:185-200's `bert_score(generated, ground_truth)`
    (pairwise row i vs row i; the shipped reference call crashes on
    unequal list lengths, which we do not replicate):

      R  = mean over ref tokens of max cosine to any candidate token
      P  = mean over candidate tokens of max cosine to any ref token
      F1 = 2PR/(P+R)

    The token encoder is the deterministic hash embedding
    (functions/embeddings.token_embedding_expr) — the same
    structurally-faithful stand-in used for J3 property similarity;
    swap in a real contextual encoder (import-gated
    SentenceEncoderBackend) for linguistically meaningful scores.
    Entirely native nested higher-order functions: no UDF, no shuffle,
    and an exact DuckDB oracle (gate `kg_metrics_bertscore`).
    """
    from ..functions.embeddings import token_embedding_expr
    from ..functions.text import tokens_expr

    # Two physical forms, identical results (bit-exact):
    #
    # Default (dedup_shared_refs=False): the original shuffle-free
    # projection — both directions scored per pair with nested HOFs.
    # No exchange anywhere, so it composes into any map-only pipeline
    # and has no skew surface; per-pair cost is O(|ce|·|re|·dim) even
    # when many pairs share one reference.
    #
    # dedup_shared_refs=True (r06): token embeddings are deterministic
    # functions of the token text, so cos(cand token t, ref token o)
    # depends only on (t, ref text). When many candidates share one
    # reference (the gate: ~45 triples per document), compute the
    # cosine ROW of each DISTINCT (ref value, cand token) once, fold
    # rows into a per-ref token→row map, and re-assemble each pair's
    # score from lookups — P is the ordered mean of per-token row
    # maxima, R the ordered mean over ref positions of column maxima
    # (cos(o, e) of the old R direction equals cos(e, o) by
    # float-multiply commutativity; sums keep token order; maxima are
    # order-free; NULL/empty guards reproduce the old nesting). Costs
    # two small (ref, token)-bounded shuffles and a ref-keyed join the
    # planner broadcasts when the distinct-ref side is small — measured
    # 17.7 s -> 12.0 s on the gate's 45k-pair workload at sf1.0.
    # (A per-pair cosine-matrix variant was measured SLOWER: 30 s vs
    # 17-21 s — interpreter structure overhead beats saved arithmetic.)
    def cos(a, b):
        dot = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )
        n = lambda v: F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x)
        )
        return dot / (n(a) * n(b))

    if not dedup_shared_refs:
        def embs(col: str) -> "F.Column":
            return F.transform(
                tokens_expr(col), lambda t: token_embedding_expr(t, dim)
            )

        def side_score(from_embs, to_embs):
            best = F.transform(
                from_embs,
                lambda e: F.array_max(
                    F.transform(to_embs, lambda o: cos(e, o))
                ),
            )
            total = F.aggregate(best, F.lit(0.0), lambda s, x: s + x)
            return F.when(
                F.size(from_embs) > 0, total / F.size(from_embs)
            ).otherwise(F.lit(0.0))

        ce, re_ = F.col("_ce"), F.col("_re")
        staged = pairs.withColumn("_ce", embs(cand_col)).withColumn(
            "_re", embs(ref_col)
        )
        p = F.when(F.size(re_) > 0, side_score(ce, re_)).otherwise(F.lit(0.0))
        r = F.when(F.size(ce) > 0, side_score(re_, ce)).otherwise(F.lit(0.0))
        out = staged.withColumn("bs_precision", p).withColumn("bs_recall", r)
        f1 = F.when(
            (F.col("bs_precision") + F.col("bs_recall")) > 0,
            2
            * F.col("bs_precision")
            * F.col("bs_recall")
            / (F.col("bs_precision") + F.col("bs_recall")),
        ).otherwise(F.lit(0.0))
        return out.withColumn("bs_f1", f1).drop("_ce", "_re")

    refs = (
        pairs.select(F.col(ref_col).alias("_ref"))
        .distinct()
        .withColumn(
            "_re",
            F.transform(
                tokens_expr("_ref"), lambda t: token_embedding_expr(t, dim)
            ),
        )
    )
    ct = pairs.select(
        F.col(ref_col).alias("_ref"),
        F.explode(F.array_distinct(tokens_expr(cand_col))).alias("_t"),
    ).distinct()
    # the candidate-token embedding is bound once: captured inside the
    # per-ref-token lambda it would be rebuilt |ref tokens| times
    rows = ct.join(refs, "_ref").select(
        "_ref",
        "_t",
        bind_once(
            token_embedding_expr(F.col("_t"), dim),
            lambda e: F.transform(F.col("_re"), lambda o: cos(e, o)),
        ).alias("_row"),
    )
    maps = rows.groupBy("_ref").agg(
        F.map_from_entries(F.collect_list(F.struct("_t", "_row"))).alias("_map")
    )
    refn = refs.select("_ref", F.size("_re").alias("_nref"))
    # plain equi-joins (no forced hint): the map/size tables aggregate
    # to |distinct refs| rows, so AQE broadcasts them when small and
    # falls back to a shuffle when a caller's ref side is huge
    staged = (
        pairs.join(maps, F.col(ref_col) == maps["_ref"], "left")
        .drop("_ref")
        .join(refn, F.col(ref_col) == refn["_ref"], "left")
        .drop("_ref")
    )
    nref = F.col("_nref")

    # bind the candidate token array AND the looked-up row array once:
    # rows_arr captured inside r_total's per-ref-position lambda was
    # rebuilt (|ce| map lookups) nref times per pair, and ce_toks
    # re-tokenized per reference. Same expressions over the bound
    # variables — bit-identical values (the equality test over
    # NULL/empty/duplicate-token fixtures pins this).
    def _pr(ct_: Column, ra: Column) -> Column:
        p_total = F.aggregate(
            F.transform(ra, F.array_max), F.lit(0.0), lambda s, x: s + x
        )
        p = F.when(
            nref > 0,
            F.when(F.size(ct_) > 0, p_total / F.size(ct_)).otherwise(
                F.lit(0.0)
            ),
        ).otherwise(F.lit(0.0))
        r_total = F.aggregate(
            F.transform(
                F.sequence(F.lit(1), nref),
                lambda j: F.array_max(
                    F.transform(ra, lambda row: F.element_at(row, j))
                ),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        r = F.when(
            F.size(ct_) > 0,
            F.when(nref > 0, r_total / nref).otherwise(F.lit(0.0)),
        ).otherwise(F.lit(0.0))
        return F.struct(p.alias("p"), r.alias("r"))

    pr = bind_once(
        tokens_expr(cand_col),
        lambda ct_: bind_once(
            F.transform(ct_, lambda t: F.element_at(F.col("_map"), t)),
            lambda ra: _pr(ct_, ra),
        ),
    )
    out = (
        staged.withColumn("_pr", pr)
        .withColumn("bs_precision", F.col("_pr").getField("p"))
        .withColumn("bs_recall", F.col("_pr").getField("r"))
        .drop("_pr")
    )
    f1 = F.when(
        (F.col("bs_precision") + F.col("bs_recall")) > 0,
        2
        * F.col("bs_precision")
        * F.col("bs_recall")
        / (F.col("bs_precision") + F.col("bs_recall")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("bs_f1", f1).drop("_map", "_nref")


def _scalar_prf(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


def _prf(spark, tp: int, fp: int, fn: int) -> DataFrame:
    p, r, f1 = _scalar_prf(tp, fp, fn)
    return spark.createDataFrame(
        [(tp, fp, fn, p, r, f1)],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )
