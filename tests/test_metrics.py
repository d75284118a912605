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


def test_empty_sides(spark):
    empty = _df(spark, []).limit(0)
    gt = _df(spark, [("A", "b", "C")])
    m = metrics.strict_metrics(empty, gt).collect()[0]
    assert (m.tp, m.precision, m.recall) == (0, 0.0, 0.0)


def test_relaxed_equijoin_matches_bruteforce(spark):
    """The equi-join decomposition reproduces the reference's
    double-loop membership semantics on a randomized corpus with
    duplicates and empty components."""
    import random

    from knowledge_graph_creation_from_text_with_llms_spark.functions.text import (
        normalize_text_expr,  # noqa: F401 (normalization parity lives in the op)
    )

    rng = random.Random(7)
    vocab = ["Alpha", "beta!", "Gamma", "delta", "", "Epsilon", "zeta"]
    gen = [tuple(rng.choice(vocab) for _ in range(3)) for _ in range(40)]
    gt = [tuple(rng.choice(vocab) for _ in range(3)) for _ in range(25)]
    gt += gt[:5]  # duplicates preserved in counts

    def norm(s):
        import re

        return re.sub(r"[^a-z0-9 ]", "", s.lower()).strip()

    gen_n = [tuple(norm(c) for c in t) for t in gen]
    gt_n = [tuple(norm(c) for c in t) for t in gt]
    tp = sum(
        1
        for t in gt_n
        if any(all(c == "" or c in g for c in t) for g in gen_n)
    )
    fn = len(gt_n) - tp
    fp = len(gen_n) - tp

    m = metrics.relaxed_metrics(_df(spark, gen), _df(spark, gt)).collect()[0]
    assert (m.tp, m.fp, m.fn) == (tp, fp, fn)


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
    gen = _df(spark, [("the cat", "sat", "mat")])
    gt = _df(spark, [("the cat", "sat on", "the mat")])
    row = metrics.rouge_best_match(gen, gt, use_stemmer=False).collect()[0]
    # gen tokens: [the, cat, sat, mat]; gt: [the, cat, sat, on, the, mat]
    # rouge1 overlap=4 (the,cat,sat,mat clipped) → p=1, r=4/6
    assert abs(row.best_rouge1_f - 2 * 1 * (4 / 6) / (1 + 4 / 6)) < 1e-12
    # bigrams gen: (the,cat)(cat,sat)(sat,mat); gt has (the,cat)(cat,sat)
    # → ov=2, p=2/3, r=2/5
    p2, r2 = 2 / 3, 2 / 5
    assert abs(row.best_rouge2_f - 2 * p2 * r2 / (p2 + r2)) < 1e-12
    # LCS(the cat sat mat, the cat sat on the mat) = 4 → same as rouge1
    assert abs(row.best_rougeL_f - row.best_rouge1_f) < 1e-12


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


def test_rouge_l_best_native_matches_udf_scorer(spark):
    """The native LCS fold (rouge_l_best) must agree with the Python-UDF
    scorer (rouge_best_match, stemmer off) on every row — and with
    a hand-computed reordered-subsequence case where L differs from R1."""
    gen = _df(
        spark,
        [("the cat", "sat", "mat"),
         ("b a", "c", "d"),          # tokens b a c d vs GT a b c d: LCS=3
         ("zz", "qq", "ww")],         # no overlap → 0.0
    )
    gt = _df(spark, [("the cat", "sat on", "the mat"), ("a b", "c", "d")])
    native = {
        (r.subj, r.pred, r.obj): r.best_rougeL_f
        for r in metrics.rouge_l_best(gen, gt).collect()
    }
    udf = {
        (r.subj, r.pred, r.obj): r.best_rougeL_f
        for r in metrics.rouge_best_match(gen, gt, use_stemmer=False).collect()
    }
    assert set(native) == set(udf)
    for k in native:
        assert abs(native[k] - udf[k]) < 1e-12, k
    # b a c d vs a b c d: LCS = 3 (a c d or b c d) → p = r = 3/4
    assert abs(native[("b a", "c", "d")] - 2 * 0.75 * 0.75 / 1.5) < 1e-12
    assert native[("zz", "qq", "ww")] == 0.0
    # empty GT: rows survive with 0.0
    rows = metrics.rouge_l_best(gen, _df(spark, [])).collect()
    assert len(rows) == 3 and all(r.best_rougeL_f == 0.0 for r in rows)


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
