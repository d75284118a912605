"""BPE merge learning + application semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import bpe


def test_learn_bpe_hand_corpus(spark):
    # classic Sennrich toy: "low" x5, "lower" x2 → first merges build
    # up the shared prefix l-o-w
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower")], "doc_id long, text string"
    )
    merges, vocab = bpe.learn_bpe(docs, num_merges=3)
    # pair counts round 1: (l,o)=7, (o,w)=7, (w,e)=2, (e,r)=2
    # tie 7/7 → lexicographic: "l o" < "o w" → merge (l, o) first,
    # then (lo, w)=7, then (w? ...) round 3: (low e)=2 vs (e r)=2 →
    # "e r" < "low e" → (e, r)
    assert merges == [("l", "o"), ("lo", "w"), ("e", "r")]
    enc = {r.w: r.syms for r in vocab.collect()}
    assert enc["low"] == "low"
    assert enc["lower"] == "low er"


def test_learn_bpe_early_stop_and_singletons(spark):
    # every word unique, no pair reaches count 2 after distinct words
    # diverge — loop must stop early, not pad merges
    docs = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    merges, _ = bpe.learn_bpe(docs, num_merges=10)
    assert merges == []  # all pair counts are 1


def test_encode_expr_matches_vocab_join(spark):
    docs = spark.createDataFrame(
        [(1, "banana bandana ban banana"), (2, "anna banana bann")],
        "doc_id long, text string",
    )
    merges, vocab = bpe.learn_bpe(docs, num_merges=5)
    via_vocab = {r.w: r.syms for r in vocab.collect()}
    via_expr = {
        r.w: r.enc
        for r in vocab.select(
            "w", bpe.encode_expr(F.col("w"), merges).alias("enc")
        ).collect()
    }
    assert via_expr == via_vocab  # replace-chain == learned vocabulary
    # unseen word: encodable with the same merges, deterministic
    unseen = spark.createDataFrame([("bananarama",)], "w string")
    out1 = unseen.select(bpe.encode_expr(F.col("w"), merges)).first()[0]
    out2 = unseen.select(bpe.encode_expr(F.col("w"), merges)).first()[0]
    assert out1 == out2
    assert "".join(out1.split(" ")) == "bananarama"  # lossless


def test_bpe_token_stats_counts(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "aa")], "doc_id long, text string"
    )
    merges, vocab = bpe.learn_bpe(docs, num_merges=2)
    # (a,a) count 3 → merged; (b,b) count 1 → not merged
    assert ("a", "a") in merges and ("b", "b") not in merges
    stats = {r.doc_id: (r.n_bpe_tokens, r.n_words)
             for r in bpe.bpe_token_stats(docs, vocab).collect()}
    assert stats[1] == (2 + 2, 3)  # "aa","aa" 1 token each; "bb" = 2
    assert stats[2] == (1, 1)


def test_merge_never_crosses_token_boundaries(spark):
    """After merging (x,a), the word 'xab' is tokens [xa, b]; a later
    (a,b) merge must NOT fire — 'xa b' contains the SUBSTRING 'a b'
    but not the token pair (a, b). A literal replace corrupted this to
    'xab' (one token), a merge real Sennrich BPE never makes."""
    df = spark.range(1).select(
        bpe.encode_expr(F.lit("xab"), [("x", "a"), ("a", "b")]).alias("s")
    )
    assert df.first().s == "xa b"


def test_merge_fold_greedy_left_to_right(spark):
    """Self-overlapping pair (a,a) over 'aaa' merges greedily left to
    right: [aa, a] — and adjacent occurrences all merge in one pass:
    'abab' under (a,b) → [ab, ab]."""
    row = spark.range(1).select(
        bpe.encode_expr(F.lit("aaa"), [("a", "a")]).alias("s1"),
        bpe.encode_expr(F.lit("abab"), [("a", "b")]).alias("s2"),
    ).first()
    assert row.s1 == "aa a"
    assert row.s2 == "ab ab"


def test_driver_learn_engine_is_bit_identical(spark, monkeypatch):
    """The driver loop (the vocab fits max_driver_vocab: collect it
    once, loop in Python) must produce the exact merges AND final
    vocab of the distributed loop (forced by max_driver_vocab=0) —
    including tie-breaks, early stop, and the boundary-safe greedy
    apply."""
    loops = _count_driver_loops(monkeypatch)
    docs = spark.createDataFrame(
        [
            (1, "banana bandana ban ban banana"),
            (2, "an analog anagram and and banana"),
            (3, "aaa aa a zz zz zzz"),
        ],
        "doc_id long, text string",
    )
    m_dist, v_dist = bpe.learn_bpe(docs, num_merges=8, max_driver_vocab=0)
    assert loops == []
    m_drv, v_drv = bpe.learn_bpe(docs, num_merges=8)
    assert loops == [1]
    assert m_drv == m_dist
    rows = lambda v: sorted((r.w, r.cnt, r.syms) for r in v.collect())
    assert rows(v_drv) == rows(v_dist)
    # early-stop parity on a pairless corpus
    single = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert bpe.learn_bpe(single, num_merges=4)[0] == \
        bpe.learn_bpe(single, num_merges=4, max_driver_vocab=0)[0] == []
    assert loops == [1, 1]


def _count_driver_loops(monkeypatch) -> list:
    """Record one entry per run of the driver-side merge loop."""
    loops = []
    local = bpe._learn_merges_local

    def counted(rows, num_merges):
        loops.append(1)
        return local(rows, num_merges)

    monkeypatch.setattr(bpe, "_learn_merges_local", counted)
    return loops


def test_auto_engine_falls_back_distributed_on_oversized_vocab(spark, monkeypatch):
    """A vocabulary larger than max_driver_vocab runs the distributed
    loop, not an error — same merges as the driver loop."""
    loops = _count_driver_loops(monkeypatch)
    docs = spark.createDataFrame(
        [(1, "banana ban bandana banana an and")], "doc_id long, text string"
    )
    m_auto, _ = bpe.learn_bpe(docs, num_merges=3, max_driver_vocab=2)
    assert loops == []
    m_drv, _ = bpe.learn_bpe(docs, num_merges=3)
    assert loops == [1]
    assert m_auto == m_drv and m_auto
