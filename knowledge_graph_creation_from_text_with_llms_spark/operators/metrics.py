"""Evaluation metrics: P/R/F1 of generated triples vs ground truth.

Reproduces the reference's two evaluators. Each set metric is one lazy
plan: both sides are tagged with a side marker, unioned, grouped once on
the match key, and reduced by one global aggregate, so collecting the
result is the only Spark action (one shuffle-group plus one global
aggregate; no driver-side count, first or collect inside the call).
- strict set match (tests/test_modules/metrics_generator.py:104-126 and
  metrics.py:33-76): a normalized 3-tuple held by both sides is a TP,
  one held only by the generated side an FP, one held only by the GT
  side an FN.
- relaxed membership (metrics_generator.py:128-157): a GT triple counts
  as found if every non-empty normalized component is a member of some
  generated triple's component tuple — grouped on composite subset keys.
- per-component metrics (metrics.py:78-115): the strict grouping on
  (component, value) pairs for each of subj/pred/obj.
P/R/F1 are Column expressions in the reference's operation order, so
the floats equal a plain Python evaluation of the same counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, normalize_text_expr

_COLS = ("subj", "pred", "obj")
_ROUGE_TYPES = ("rouge1", "rouge2", "rougeL")


def _with_prf(counts: DataFrame, *keep: str) -> DataFrame:
    """`keep` columns, tp, fp, fn, then precision, recall and f1 with
    the reference's guards and operation order (p = tp/(tp+fp) when
    tp+fp, r likewise, f1 = 2*p*r/(p+r) when p+r)."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    p = F.when(tp + fp != 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    r = F.when(tp + fn != 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(p + r != 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return counts.select(
        *keep, "tp", "fp", "fn",
        p.alias("precision"), r.alias("recall"), f1.alias("f1"),
    )


def _sides(gen: DataFrame, gt: DataFrame, *keys: Column | str) -> DataFrame:
    """One row per distinct key over both sides, with `_g` / `_t` = 1
    when the generated / GT side holds it."""
    both = gen.select("*", F.lit(1).alias("_g"), F.lit(0).alias("_t")).unionByName(
        gt.select("*", F.lit(0).alias("_g"), F.lit(1).alias("_t"))
    )
    return both.groupBy(*keys).agg(F.max("_g").alias("_g"), F.max("_t").alias("_t"))


def _tp_fp_fn(where: Column | None = None) -> list[Column]:
    """tp, fp, fn over `_sides` rows (those matching `where`): keys held
    by both sides, by generated only, by GT only."""
    g, t = F.col("_g") == 1, F.col("_t") == 1
    if where is not None:
        g, t = where & g, where & t
    return [
        F.count(F.when(g & t, 1)).alias("tp"),
        F.count(F.when(g & ~t, 1)).alias("fp"),
        F.count(F.when(t & ~g, 1)).alias("fn"),
    ]


def strict_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """One row: tp, fp, fn, precision, recall, f1 (triple level) over
    the distinct normalized triples with at least one non-empty
    component.

    Lazy: one union of both sides, one groupBy on the triple, one
    global aggregate. A triple with a NULL component never matches
    across sides (as in an equi-join) but still dedupes within its side:
    such rows group on their side marker too, every other row on NULL."""
    def side(df: DataFrame) -> DataFrame:
        return df.select(*[normalize_text_expr(c).alias(c) for c in _COLS]).where(
            (F.col("subj") != "") | (F.col("pred") != "") | (F.col("obj") != "")
        )

    has_null = F.col("subj").isNull() | F.col("pred").isNull() | F.col("obj").isNull()
    counts = _sides(
        side(generated), side(ground_truth),
        *_COLS, F.when(has_null, F.col("_g")).alias("_null_side"),
    ).agg(*_tp_fp_fn())
    return _with_prf(counts)


def component_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Per-component (subject/predicate/object) P/R/F1 rows in subj,
    pred, obj order, mirroring metrics.py:78-115 which compares the
    sets of non-empty normalized component values.

    Lazy: both sides explode to (component, value) pairs, one union,
    one groupBy on the pair, one global aggregate of 9 conditional
    counts, then an explode of one struct per component (a component
    absent from both sides gets a zero row)."""
    def pairs(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(comp).alias("component"),
                        normalize_text_expr(comp).alias("v"),
                    )
                    for comp in _COLS
                ])
            ).alias("p")
        ).select("p.component", "p.v").where(F.col("v") != "")

    counts = _sides(pairs(generated), pairs(ground_truth), "component", "v").agg(*[
        c.alias(f"{comp}_{n}")
        for comp in _COLS
        for c, n in zip(_tp_fp_fn(F.col("component") == comp), ("tp", "fp", "fn"))
    ])
    rows = counts.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(comp).alias("component"),
                    *[F.col(f"{comp}_{n}").alias(n) for n in ("tp", "fp", "fn")],
                )
                for comp in _COLS
            ])
        ).alias("r")
    ).select("r.*")
    return _with_prf(rows, "component")


def relaxed_metrics(generated: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Relaxed match, verbatim reference semantics
    (metrics_generator.py:128-157): a GT triple counts as found iff
    some generated triple's component TUPLE contains every non-empty
    normalized GT component as an exact member (`gt_comp in gen` on a
    3-tuple is membership, NOT substring — position-independent).
    Counts are over the raw (duplicate-preserving) lists, and
    fp = len(generated) - tp without clamping, exactly as shipped.

    Executed as a SUBSET-KEY grouping, not a theta join: "every
    non-empty GT component is a member of the generated tuple" ⟺ the
    sorted distinct non-empty GT values equal some member subset of the
    tuple (≤ 2^3 per tuple). Grouping on the whole composite key is
    skew-free; a per-value join fanned a component shared by every
    tuple (the predicate) out to |GT| × |generated| rows.
    - each raw generated row emits the keys of all its member subsets,
      the empty one ("") included; only the "" emission carries the
      row count, which gives len(generated);
    - each raw GT row emits one key, so its multiplicity comes free:
      "" when no component is non-empty (it matches iff some generated
      row exists), NULL when a component is NULL and another is
      non-empty (never matched), otherwise its sorted key.
    NULL generated components are not members."""
    # normalize removes [^\w\s], so \x1f never appears in a value —
    # safe composite-key separator
    sep = "\x1f"
    # distinct non-empty normalized values, sorted; NULL != "" is NULL,
    # so the filter drops NULL components too
    members = F.array_sort(F.array_distinct(F.filter(
        F.array(*[normalize_text_expr(c) for c in _COLS]),
        lambda v: v != F.lit(""),
    )))
    # all subsets of the sorted members, each sorted, the empty one first:
    # every member doubles the list with itself appended to each subset
    subsets = F.aggregate(
        members,
        F.array(F.array().cast("array<string>")),
        lambda acc, x: F.concat(acc, F.transform(acc, lambda s: F.concat(s, F.array(x)))),
    )
    gen_keys = generated.select(F.posexplode(subsets).alias("_i", "_s")).select(
        F.concat_ws(sep, "_s").alias("_key"),
        F.when(F.col("_i") == 0, 1).otherwise(0).alias("_g"),
        F.lit(None).cast("int").alias("_t"),
    )
    has_null = F.col("subj").isNull() | F.col("pred").isNull() | F.col("obj").isNull()
    gt_keys = ground_truth.select(
        bind_once(
            members,
            lambda m: F.when(F.size(m) == 0, F.lit(""))
            .when(has_null, F.lit(None).cast("string"))
            .otherwise(F.concat_ws(sep, m)),
        ).alias("_key"),
        F.lit(None).cast("int").alias("_g"),
        F.lit(1).alias("_t"),
    )

    # per key: _hits generated emissions, _n_gen generated rows (from
    # the "" key only), _n_gt GT rows
    counts = (
        gen_keys.unionByName(gt_keys)
        .groupBy("_key")
        .agg(
            F.count("_g").alias("_hits"),
            F.sum("_g").alias("_n_gen"),
            F.count("_t").alias("_n_gt"),
        )
        .agg(
            F.coalesce(F.sum(F.when(F.col("_hits") > 0, F.col("_n_gt"))), F.lit(0)).alias("tp"),
            F.coalesce(F.sum("_n_gt"), F.lit(0)).alias("_total_gt"),
            F.coalesce(F.sum("_n_gen"), F.lit(0)).alias("_total_gen"),
        )
        .select(
            "tp",
            (F.col("_total_gen") - F.col("tp")).alias("fp"),
            (F.col("_total_gt") - F.col("tp")).alias("fn"),
        )
    )
    return _with_prf(counts)


def rouge_best_match(
    generated: DataFrame,
    ground_truth: DataFrame,
    use_stemmer: bool = True,
    rouge_types: tuple[str, ...] = _ROUGE_TYPES,
) -> DataFrame:
    """Per distinct generated triple: the best f-measure of each of
    `rouge_types` over all GT triples, as `best_<type>_f` columns in
    the requested order — the metric of metrics_generator.py:159-183
    (RougeScorer(rouge_types, use_stemmer) over " ".join(triple)
    texts; the reference asks for all three with the stemmer on).

    `rouge_types` is a non-empty tuple of distinct names drawn from
    ("rouge1", "rouge2", "rougeL"); anything else raises ValueError.
    ROUGE-1 is always computed because the ROUGE-L pruning below
    orders candidates by it; bigram counts are built only for rouge2,
    the LCS runs only for rougeL. Every requested type gives the same
    float whatever else is requested (tests/test_metrics.py).

    Tokenization mirrors rouge_score: lowercase, [a-z0-9]+ tokens,
    and with use_stemmer a Porter stem applied only to tokens longer
    than 3 chars (functions/stemmer.py — classic 1980 algorithm; the
    reference's NLTK_EXTENSIONS-mode divergences are documented
    there). A generated triple with no tokens is kept and scores 0.0.

    Structure: the GT texts are collected and deduplicated in Python
    (GT is the small evaluation set by construction; this is a
    test-only metric, same as the reference's), then shipped inside
    one plain Python UDF. Each task
    tokenizes, stems and counts them once; the UDF then scores one
    distinct generated row against all of them and returns the
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

    types = tuple(rouge_types)
    if not types or len(set(types)) != len(types) or not set(types) <= set(_ROUGE_TYPES):
        raise ValueError(
            f"rouge_types: want distinct names from {_ROUGE_TYPES}, "
            f"got {rouge_types!r}"
        )
    want2, want_l = "rouge2" in types, "rougeL" in types

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
        bi = list(zip(toks, toks[1:])) if want2 else []
        return toks, _counts(toks), len(toks), _counts(bi), len(bi)

    def _overlap(gen: dict, gt: dict) -> int:
        return sum(min(c, gt.get(k, 0)) for k, c in gen.items())

    text_of = F.concat_ws(" ", *[F.col(c) for c in _COLS])
    # deduplicated here, not with a Spark distinct: GT is small, and
    # the distinct's shuffle cost more than the whole collect
    gt_texts = sorted({r[0] for r in ground_truth.select(text_of).collect()})
    gt_prepped: list = []  # per task: the GT texts prepared once

    def _best(gen_text: str) -> tuple[float, ...]:
        if gt_texts and not gt_prepped:
            gt_prepped[:] = [_prep(t) for t in gt_texts]
        gen_toks, g1, n_g, g2, n_g2 = _prep(gen_text)
        best1 = best2 = best_l = 0.0
        lcs_candidates = []
        for gt_toks, t1, n_t, t2, n_t2 in gt_prepped:
            f1 = _f(_overlap(g1, t1), n_g, n_t)
            best1 = max(best1, f1)
            if want2:
                best2 = max(best2, _f(_overlap(g2, t2), n_g2, n_t2))
            if want_l and f1 > 0.0:
                lcs_candidates.append((f1, gt_toks, n_t))
        lcs_candidates.sort(key=lambda c: c[0], reverse=True)
        for f1, gt_toks, n_t in lcs_candidates:
            if f1 <= best_l:
                break
            best_l = max(best_l, _f(_lcs(gen_toks, gt_toks), n_g, n_t))
        best = {"rouge1": best1, "rouge2": best2, "rougeL": best_l}
        return tuple(best[t] for t in types)

    score = F.udf(
        _best,
        StructType([StructField(t, DoubleType()) for t in types]),
        useArrow=False,
    )
    parallelism = generated.sparkSession.sparkContext.defaultParallelism
    return (
        generated.select(*_COLS)
        .repartition(parallelism, *_COLS)
        .distinct()
        .select(*_COLS, score(text_of).alias("_s"))
        .select(*_COLS, *[F.col(f"_s.{t}").alias(f"best_{t}_f") for t in types])
    )


def bertscore_pairs(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
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

    The two forms below give identical rows; which is faster depends on
    how many pairs share a reference (local[4], alternated calls):
    - ~6 pairs per reference (perfbench `evaluate`, 1000 pairs over
      160 refs, 10 calls each): default 0.66 s, dedup_shared_refs 1.33 s;
    - ~50 pairs per reference (gate `kg_metrics_bertscore` at sf0.1,
      4928 pairs over 99 refs, 6 calls each): default 1.31 s,
      dedup_shared_refs 1.37 s, a tie; at sf1.0 (~45 per reference,
      45k pairs) dedup_shared_refs measured 12.0 s vs 17.7 s.
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
                tokens_expr(col), token_embedding_expr
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
                tokens_expr("_ref"), token_embedding_expr
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
            token_embedding_expr(F.col("_t")),
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
