"""P/R/F1 metric joins (metrics.py / metrics_generator.py parity)."""

import random
import re
from collections import Counter

import pytest

from knowledge_graph_creation_from_text_with_llms_spark.operators import metrics


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_strict_metrics(spark):
    gen = _df(spark, [("A", "is", "B"), ("C", "is", "D"), ("E", "is", "F")])
    gt = _df(spark, [("a", "is", "b"), ("C!", "is", "D"), ("X", "is", "Y")])
    m = metrics.strict_metrics(gen, gt).collect()[0]
    # normalization lowercases and strips punctuation → A/a match, C!/C match
    assert (m.tp, m.fp, m.fn) == (2, 1, 1)
    assert abs(m.precision - 2 / 3) < 1e-12
    assert abs(m.recall - 2 / 3) < 1e-12


def test_strict_metrics_dedups(spark):
    gen = _df(spark, [("A", "is", "B")] * 5)
    gt = _df(spark, [("A", "is", "B")])
    m = metrics.strict_metrics(gen, gt).collect()[0]
    assert (m.tp, m.fp, m.fn) == (1, 0, 0)
    assert m.f1 == 1.0


def test_component_metrics(spark):
    gen = _df(spark, [("A", "is", "B")])
    gt = _df(spark, [("A", "was", "B")])
    rows = {r.component: r for r in metrics.component_metrics(gen, gt).collect()}
    assert rows["subj"].f1 == 1.0
    assert rows["obj"].f1 == 1.0
    assert rows["pred"].tp == 0


def test_relaxed_membership(spark):
    # reference semantics: `gt_comp in gen` is TUPLE MEMBERSHIP —
    # position-independent exact match of each non-empty component
    gen = _df(spark, [("Akron", "born in", "LeBron James")])
    gt = _df(
        spark,
        [
            ("LeBron James", "born in", "Akron"),   # members, swapped → TP
            ("LeBron", "born in", "Akron"),          # substring only → no
        ],
    )
    m = metrics.relaxed_metrics(gen, gt).collect()[0]
    assert (m.tp, m.fn) == (1, 1)


def test_relaxed_empty_components_skipped(spark):
    gen = _df(spark, [("a", "b", "c")])
    gt = _df(spark, [("", "b", "")])  # only 'b' must be a member
    m = metrics.relaxed_metrics(gen, gt).collect()[0]
    assert m.tp == 1


def test_rouge1_best_match(spark):
    gen = _df(spark, [("the cat", "sat on", "the mat"), ("zz", "qq", "ww")])
    gt = _df(spark, [("the cat", "sat on", "a mat")])
    rows = {(r.subj, r.pred, r.obj): r.best_rouge1_f
            for r in metrics.rouge_n_best(gen, gt, n=1).collect()}
    # gen1 tokens: the cat sat on the mat (6); gt: the cat sat on a mat
    # (6); clipped overlap = the,cat,sat,on,mat = 5 → p=r=5/6, f=5/6
    assert abs(rows[("the cat", "sat on", "the mat")] - 5 / 6) < 1e-12
    assert rows[("zz", "qq", "ww")] == 0.0


def test_relaxed_all_empty_gt_row(spark):
    # a GT row whose every component normalizes to "" matches iff any
    # generated row exists (vacuous membership, reference semantics)
    gen = _df(spark, [("A", "is", "B")])
    gt = _df(spark, [("!!", "??", "--")])
    m = metrics.relaxed_metrics(gen, gt).collect()[0]
    assert (m.tp, m.fn) == (1, 0)
    m2 = metrics.relaxed_metrics(_df(spark, []), gt).collect()[0]
    assert (m2.tp, m2.fn) == (0, 1)


def test_relaxed_subset_key_shared_constant(spark):
    """Focused pin for the subset-key semi-join rewrite: a constant
    predicate shared by every tuple (the hot join key the old
    per-value form fanned out on), duplicate values within one tuple
    (subj == obj collapses to one member/one key element), and a GT
    row needing all three members of a single tuple."""
    gen = _df(spark, [
        ("x", "precedes", "y"),
        ("y", "precedes", "y"),   # duplicate member inside the tuple
        ("z", "precedes", "w"),
    ])
    gt = _df(spark, [
        ("y", "precedes", "x"),   # swapped: membership must find it
        ("y", "precedes", "y"),   # needs only {y, precedes}
        ("precedes", "", ""),     # single-member subset
        ("x", "precedes", "w"),   # members split across tuples: NO match
    ])
    m = metrics.relaxed_metrics(gen, gt).collect()[0]
    assert (m.tp, m.fn, m.fp) == (3, 1, 0)


def _norm(s):
    """normalize_text_expr in plain Python: lowercase, drop [^\\w\\s]
    (ASCII classes, as Java's regex), trim spaces only (Spark trim)."""
    return None if s is None else re.sub(r"[^\w\s]", "", s.lower(), flags=re.ASCII).strip(" ")


def _brute_prf(tp, fp, fn):
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return (tp, fp, fn, p, r, f1)


def _brute_strict(gen, gt):
    """Reference metrics.py:33-76: sets of normalized triples with a
    non-empty component; a NULL-bearing triple dedupes within its side
    but never matches across sides."""
    def s(rows):
        return {t for t in (tuple(map(_norm, r)) for r in rows) if any(t)}

    g, t = s(gen), s(gt)
    tp = len({x for x in g & t if None not in x})
    return _brute_prf(tp, len(g) - tp, len(t) - tp)


def _brute_component(gen, gt):
    """Reference metrics.py:78-115: per position, sets of non-empty
    values."""
    out = []
    for i, comp in enumerate(("subj", "pred", "obj")):
        g = {v for v in (_norm(r[i]) for r in gen) if v}
        t = {v for v in (_norm(r[i]) for r in gt) if v}
        out.append((comp, *_brute_prf(len(g & t), len(g - t), len(t - g))))
    return out


def _brute_relaxed(gen, gt):
    """Reference metrics_generator.py:128-157: a GT row is found iff
    every non-empty component is a member of one generated tuple;
    counts over the raw lists. A GT row with a NULL component and a
    non-empty one is never found (the engine's NULL rule)."""
    gen_n = [tuple(map(_norm, r)) for r in gen]

    def found(t):
        if None in t and any(t):
            return False
        return any(all(c in g for c in t if c) for g in gen_n)

    tp = sum(found(tuple(map(_norm, r))) for r in gt)
    return _brute_prf(tp, len(gen) - tp, len(gt) - tp)


def _set_metric_rows(spark, gen, gt):
    """Every output row of the three set metrics, as plain tuples."""
    g, t = _df(spark, gen), _df(spark, gt)
    return (
        tuple(metrics.strict_metrics(g, t).collect()[0]),
        [tuple(r) for r in metrics.component_metrics(g, t).collect()],
        tuple(metrics.relaxed_metrics(g, t).collect()[0]),
    )


def _brute_rows(gen, gt):
    return _brute_strict(gen, gt), _brute_component(gen, gt), _brute_relaxed(gen, gt)


_SET_VOCAB = ["Alpha", "alpha!", "beta", "Beta.", "gamma ray", "", "!!", "--", None, "x"]


def _set_fixture(rng, n_gen, n_gt):
    gen = [tuple(rng.choice(_SET_VOCAB) for _ in range(3)) for _ in range(n_gen)]
    gen += gen[: n_gen // 4]  # duplicates
    gt = [tuple(rng.choice(_SET_VOCAB) for _ in range(3)) for _ in range(n_gt)]
    gt += gt[: n_gt // 4] + [tuple(rng.sample(r, 3)) for r in gen[:3]]
    return gen, gt


def test_set_metrics_equal_brute_force_random(spark):
    """All output columns of strict, component and relaxed metrics equal
    plain-Python scorers of the reference semantics (==, floats too),
    on seeded fixtures with duplicates, "", punctuation-only values and
    NULL components."""
    rng = random.Random(20261019)
    for n_gen, n_gt in [(30, 20), (12, 40), (5, 5), (40, 3)]:
        gen, gt = _set_fixture(rng, n_gen, n_gt)
        assert _set_metric_rows(spark, gen, gt) == _brute_rows(gen, gt), (gen, gt)


def test_empty_sides(spark):
    """Empty generated, empty GT and both empty: one strict and one
    relaxed row, three component rows, all counts 0 where no side has
    data."""
    gen, gt = _set_fixture(random.Random(5), 6, 6)
    for g, t in [([], gt), (gen, []), ([], [])]:
        assert _set_metric_rows(spark, g, t) == _brute_rows(g, t)
    strict, components, relaxed = _set_metric_rows(spark, [], [])
    assert strict == relaxed == (0, 0, 0, 0.0, 0.0, 0.0)
    assert components == [(c, 0, 0, 0, 0.0, 0.0, 0.0) for c in ("subj", "pred", "obj")]


def test_set_metrics_null_rules(spark):
    """Hand pins of the NULL behaviour a rewrite would change silently."""
    # strict: a NULL-bearing triple dedupes within a side, never matches
    gen = [("a", None, "b"), ("a", None, "b"), ("c", "d", "e")]
    gt = [("A", None, "B!"), ("c", "d", "e")]
    m = metrics.strict_metrics(_df(spark, gen), _df(spark, gt)).collect()[0]
    assert (m.tp, m.fp, m.fn) == (1, 1, 1)
    # relaxed: a GT row with a NULL component and a non-empty one never
    # matches, even when its non-empty members are in a generated tuple
    gen = [("a", "b", "c")]
    m = metrics.relaxed_metrics(_df(spark, gen), _df(spark, [(None, "b", "")])).collect()[0]
    assert (m.tp, m.fp, m.fn) == (0, 1, 1)
    # relaxed: a GT row with no non-empty component (empty or NULL)
    # matches iff some generated row exists, whatever that row holds
    gt = [(None, "", "!!"), (None, None, None)]
    m = metrics.relaxed_metrics(_df(spark, [(None, None, None)]), _df(spark, gt)).collect()[0]
    assert (m.tp, m.fp, m.fn) == (2, -1, 0)
    m = metrics.relaxed_metrics(_df(spark, []), _df(spark, gt)).collect()[0]
    assert (m.tp, m.fp, m.fn) == (0, 0, 2)
    # relaxed: NULL generated members are skipped, the others still count
    gen = [(None, "b", "c")]
    gt = [("c", "", "b"), ("b", "", "")]
    m = metrics.relaxed_metrics(_df(spark, gen), _df(spark, gt)).collect()[0]
    assert (m.tp, m.fp, m.fn) == (2, -1, 0)


@pytest.mark.parametrize(
    "fn", ["strict_metrics", "component_metrics", "relaxed_metrics"]
)
def test_set_metric_is_one_lazy_plan(spark, fn):
    """Calling a set metric launches no Spark job (no driver-side
    count/first/collect inside it), and collecting its result launches
    at most 3: one shuffle-group plus one global aggregate."""
    gen, gt = _set_fixture(random.Random(9), 30, 20)
    g, t = _df(spark, gen), _df(spark, gt)
    sc = spark.sparkContext
    group = f"test_set_metric_is_one_lazy_plan.{fn}"
    try:
        sc.setJobGroup(f"{group}.call", fn)
        out = getattr(metrics, fn)(g, t)
        sc.setJobGroup(f"{group}.collect", fn)
        out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup(f"{group}.call")) == 0
    assert len(tracker.getJobIdsForGroup(f"{group}.collect")) <= 3


def test_porter_stem_canonical():
    from knowledge_graph_creation_from_text_with_llms_spark.functions.stemmer import (
        porter_stem,
    )

    # full-pipeline outputs from Martin Porter's published test pairs
    assert porter_stem("caresses") == "caress"
    assert porter_stem("sensational") == "sensat"
    assert porter_stem("traditional") == "tradit"
    assert porter_stem("reference") == "refer"
    assert porter_stem("plotted") == "plot"
    assert porter_stem("generalization") == "gener"
    assert porter_stem("university") == "univers"
    assert porter_stem("agreed") == "agre"
    # NLTK_EXTENSIONS divergence, documented: classic 1980 gives "di"
    assert porter_stem("dies") == "di"


def test_rouge_best_match_hand_values(spark):
    gen = _df(
        spark,
        [("the cat", "sat", "mat"),
         ("b a", "c", "d"),          # tokens b a c d vs GT a b c d: LCS=3
         ("zz", "qq", "ww")],         # no overlap → 0.0
    )
    gt = _df(spark, [("the cat", "sat on", "the mat"), ("a b", "c", "d")])
    rows = {
        (r.subj, r.pred, r.obj): r
        for r in metrics.rouge_best_match(gen, gt, use_stemmer=False).collect()
    }
    assert len(rows) == 3
    row = rows[("the cat", "sat", "mat")]
    # gen tokens: [the, cat, sat, mat]; gt: [the, cat, sat, on, the, mat]
    # rouge1 overlap=4 (the,cat,sat,mat clipped) → p=1, r=4/6
    assert abs(row.best_rouge1_f - 2 * 1 * (4 / 6) / (1 + 4 / 6)) < 1e-12
    # bigrams gen: (the,cat)(cat,sat)(sat,mat); gt has (the,cat)(cat,sat)
    # → ov=2, p=2/3, r=2/5
    p2, r2 = 2 / 3, 2 / 5
    assert abs(row.best_rouge2_f - 2 * p2 * r2 / (p2 + r2)) < 1e-12
    # LCS(the cat sat mat, the cat sat on the mat) = 4 → same as rouge1
    assert abs(row.best_rougeL_f - row.best_rouge1_f) < 1e-12
    # b a c d vs a b c d: every unigram matches, but LCS = 3 (a c d or
    # b c d) → ROUGE-L p = r = 3/4
    reordered = rows[("b a", "c", "d")]
    assert reordered.best_rouge1_f == 1.0
    assert abs(reordered.best_rougeL_f - 2 * 0.75 * 0.75 / 1.5) < 1e-12
    assert rows[("zz", "qq", "ww")].best_rougeL_f == 0.0
    # empty GT: every generated row survives with 0.0
    got = metrics.rouge_best_match(gen, _df(spark, []), use_stemmer=False).collect()
    assert len(got) == 3 and all(r.best_rougeL_f == 0.0 for r in got)


def test_rouge_best_match_stemming_and_empty_gt(spark):
    gen = _df(spark, [("running", "connection", "happily")])
    gt = _df(spark, [("runs", "connections", "happy")])
    # stemmed: run/connect/happili vs run/connect/happi → 2 of 3 unigrams
    row = metrics.rouge_best_match(gen, gt, use_stemmer=True).collect()[0]
    assert abs(row.best_rouge1_f - 2 / 3) < 1e-12
    # empty GT: every generated row survives with 0.0 scores
    rows = metrics.rouge_best_match(gen, _df(spark, []), use_stemmer=True).collect()
    assert len(rows) == 1 and rows[0].best_rouge1_f == 0.0


def test_rouge_best_match_agrees_with_native_rouge1(spark):
    gen = _df(
        spark,
        [("Alan Turing", "worked at", "Bletchley Park"),
         ("Turing", "proposed", "the imitation game"),
         ("AI", "is", "a field of computer science")],
    )
    gt = _df(
        spark,
        [("Alan Turing", "worked", "Bletchley"),
         ("the imitation game", "proposed by", "Turing")],
    )
    new = {
        tuple(r[c] for c in ("subj", "pred", "obj")): r.best_rouge1_f
        for r in metrics.rouge_best_match(gen, gt, use_stemmer=False).collect()
    }
    old = {
        tuple(r[c] for c in ("subj", "pred", "obj")): r.best_rouge1_f
        for r in metrics.rouge_n_best(gen, gt, n=1).collect()
    }
    assert set(new) == set(old)
    for k in new:
        assert abs(new[k] - old[k]) < 1e-12, k


def test_bertscore_pairs_semantics(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat", "the cat sat"),
            ("the cat", "the cat sat on mat"),
            ("", "something"),
            ("word", ""),
        ],
        "cand string, ref string",
    )
    rows = {r.cand: r for r in metrics.bertscore_pairs(df, "cand", "ref").collect()}
    exact = rows["the cat sat"]
    assert (exact.bs_precision, exact.bs_recall, exact.bs_f1) == (1.0, 1.0, 1.0)
    subset = rows["the cat"]
    # every candidate token appears in the reference → P = 1; R < 1
    assert abs(subset.bs_precision - 1.0) < 1e-12
    assert 0.0 < subset.bs_recall < 1.0
    assert rows[""].bs_f1 == 0.0 and rows["word"].bs_f1 == 0.0


def test_bertscore_is_shuffle_free(spark):
    df = spark.createDataFrame([("a b", "b c")], "cand string, ref string")
    plan = (
        metrics.bertscore_pairs(df, "cand", "ref")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_bertscore_shared_ref_dedup_is_bit_identical(spark):
    """The dedup_shared_refs=True form (cosine rows computed once per
    distinct (ref, cand token), reassembled per pair through a map)
    must equal the shuffle-free default bitwise on every row, including
    the NULL/empty-text edge cases and duplicate candidate tokens."""
    df = spark.createDataFrame(
        [
            ("the cat sat", "the cat sat"),
            ("the cat", "the cat sat on mat"),
            ("cat cat dog", "the cat sat on mat"),  # duplicate cand token
            ("other words", "the cat sat on mat"),  # shared ref
            ("", "something"),
            ("word", ""),
            (None, "something"),
            ("word", None),
        ],
        "cand string, ref string",
    )
    base = {
        (r.cand, r.ref): (r.bs_precision, r.bs_recall, r.bs_f1)
        for r in metrics.bertscore_pairs(df, "cand", "ref").collect()
    }
    fast = {
        (r.cand, r.ref): (r.bs_precision, r.bs_recall, r.bs_f1)
        for r in metrics.bertscore_pairs(
            df, "cand", "ref", dedup_shared_refs=True
        ).collect()
    }
    assert set(base) == set(fast)
    for k in base:
        assert base[k] == fast[k], k  # bit-identical, no tolerance


def _brute_rouge(gen_rows, gt_rows, use_stemmer):
    """rouge_score's RougeScorer over every (generated, GT) pair, kept
    plainly: no pruning, every pair scored, max taken per distinct
    generated triple (metrics_generator.py:159-183)."""
    from knowledge_graph_creation_from_text_with_llms_spark.functions.stemmer import (
        porter_stem,
    )

    def toks(row):
        # concat_ws(" ", subj, pred, obj) skips NULL components
        text = " ".join(c for c in row if c is not None)
        out = re.findall(r"[a-z0-9]+", text.lower())
        if use_stemmer:
            out = [porter_stem(t) if len(t) > 3 else t for t in out]
        return out

    def fmeasure(overlap, n_gen, n_gt):
        if not overlap or not n_gen or not n_gt:
            return 0.0
        p, r = overlap / n_gen, overlap / n_gt
        return 2 * p * r / (p + r)

    def ngram(a, b, n):
        ga = Counter(zip(*[a[i:] for i in range(n)]))
        gb = Counter(zip(*[b[i:] for i in range(n)]))
        return fmeasure(sum((ga & gb).values()), sum(ga.values()), sum(gb.values()))

    def lcs(a, b):
        table = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i, x in enumerate(a, 1):
            for j, y in enumerate(b, 1):
                table[i][j] = (
                    table[i - 1][j - 1] + 1 if x == y
                    else max(table[i - 1][j], table[i][j - 1])
                )
        return table[-1][-1]

    out = {}
    for g in set(gen_rows):
        a = toks(g)
        scores = [
            (ngram(a, b, 1), ngram(a, b, 2), fmeasure(lcs(a, b), len(a), len(b)))
            for b in map(toks, gt_rows)
        ]
        out[g] = tuple(max((s[k] for s in scores), default=0.0) for k in range(3))
    return out


def _spark_rouge(spark, gen_rows, gt_rows, use_stemmer):
    rows = metrics.rouge_best_match(
        _df(spark, gen_rows), _df(spark, gt_rows), use_stemmer=use_stemmer
    ).collect()
    out = {
        (r.subj, r.pred, r.obj): (r.best_rouge1_f, r.best_rouge2_f, r.best_rougeL_f)
        for r in rows
    }
    assert len(out) == len(rows)  # one row per distinct generated triple
    return out


_ROUGE_GT = [
    ("d c", "b", "a"),              # reversed: ROUGE-1 1.0, LCS 1
    ("a b", "c", "x"),              # ROUGE-1 0.75, LCS 3: the ROUGE-L winner
    ("s r", "q", "p"),              # tied ROUGE-1 1.0 with the next row
    ("q p", "s", "r"),              # LCS 2
    ("the cats", "were running", "connections"),
    (None, "sat on", "the mat"),    # NULL component
    ("", "", ""),                   # all-empty text
    ("", "", ""),                   # duplicate GT row
]
_ROUGE_GEN = [
    ("a b", "c", "d"),
    ("p q", "r", "s"),
    ("a cat", "runs", "connection"),
    ("the cat", None, "sat"),       # NULL component
    (None, None, None),             # all NULL
    ("!!", "", "--"),               # all-empty text
    ("a b", "c", "d"),              # duplicate generated row
    ("p q", "r", "s"),
]


@pytest.mark.parametrize("use_stemmer", [True, False])
def test_rouge_best_match_equals_all_pairs_scorer(spark, use_stemmer):
    """Spark result == a local all-pairs scorer over the same inputs,
    bit for bit (==, no tolerance): the LCS pruning changes which
    pairs are visited, never the maxima."""
    want = _brute_rouge(_ROUGE_GEN, _ROUGE_GT, use_stemmer)
    assert _spark_rouge(spark, _ROUGE_GEN, _ROUGE_GT, use_stemmer) == want
    # pruning must go past the top ROUGE-1 candidate: "d c b a" has
    # ROUGE-1 1.0 but LCS 1; the ROUGE-L best is "a b c x" at LCS 3
    assert want[("a b", "c", "d")][0] == 1.0
    assert want[("a b", "c", "d")][2] == 0.75
    # tied ROUGE-1 1.0: the best ROUGE-L comes from the second of the tie
    assert want[("p q", "r", "s")][2] == 0.5
    assert want[("!!", "", "--")] == (0.0, 0.0, 0.0)
    # empty GT: every distinct generated row scores 0.0
    empty = _spark_rouge(spark, _ROUGE_GEN, [], use_stemmer)
    assert empty == {g: (0.0, 0.0, 0.0) for g in set(_ROUGE_GEN)}


@pytest.mark.parametrize("use_stemmer", [True, False])
def test_rouge_best_match_equals_all_pairs_scorer_random(spark, use_stemmer):
    """Randomized corpus with shuffled, repeated and stemmable tokens,
    so ROUGE-1 ties and LCS < overlap occur many times over."""
    rng = random.Random(20261017)
    vocab = ["alpha", "beta", "gamma", "running", "runs", "connection",
             "connections", "of", "the", "is", "X-1", ""]

    def comp():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 3)))

    gt = [(comp(), comp(), comp()) for _ in range(40)]
    gen = [(comp(), comp(), comp()) for _ in range(80)] + gt[:10]
    gen += [tuple(rng.sample(t, 3)) for t in gt[10:30]]  # reordered copies
    want = _brute_rouge(gen, gt, use_stemmer)
    assert _spark_rouge(spark, gen, gt, use_stemmer) == want


def test_rouge_best_match_scores_on_every_core(spark):
    """The scoring stage runs on defaultParallelism partitions (AQE
    coalesces a plain distinct's small shuffle to one), and no cross
    join is planned."""
    out = metrics.rouge_best_match(_df(spark, _ROUGE_GEN), _df(spark, _ROUGE_GT))
    # the UDF runs in the last stage, after the only exchange
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "BatchEvalPython" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kg_metrics_rougel_equals_all_pairs_scorer(spark, sf_tiny):
    """Value check of gate `kg_metrics_rougel` (its DuckDB oracle is
    rows-only): the query's rows equal the all-pairs scorer over its own
    collected sf0.001 slices, bit for bit."""
    from pyspark.sql import functions as F

    from knowledge_graph_creation_from_text_with_llms_spark import gate

    tr = gate._triples_raw(gate._docs(spark, sf_tiny))

    def rows(mod):
        return [
            tuple(r)
            for r in tr.where(F.col("doc_id") % mod == 0)
            .select("subj", "pred", "obj")
            .collect()
        ]

    gen, gt = rows(50), rows(75)
    assert gen and gt
    got = gate.kg_metrics_rougel(spark, sf_tiny).collect()
    scores = {
        (r.subj, r.pred, r.obj): (r.best_rouge1_f, r.best_rouge2_f, r.best_rougeL_f)
        for r in got
    }
    assert len(scores) == len(got)
    assert scores == _brute_rouge(gen, gt, use_stemmer=True)
