"""Span-level exact dedup (dedup.duplicate_spans): cross-document
duplicated token spans, the Lee-et-al-2022 family — cut the span, not
the doc. Semantics pinned here; oracle parity rides
tests/test_entry_oracle.py::test_query_matches_oracle[dedup_duplicate_spans].
"""

from __future__ import annotations

import re

from knowledge_graph_creation_from_text_with_llms_spark.operators import dedup

SHARED10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _spans(spark, rows, **kw):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.duplicate_spans(docs, **kw)
    return {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_grams)
        for r in out.collect()
    }


def test_shared_run_found_at_exact_positions_in_both_docs(spark):
    got = _spans(
        spark,
        [
            (1, f"start one two {SHARED10} tail x y z"),
            (2, f"other words here {SHARED10} closing words now"),
            (3, "totally unrelated text with nothing shared at all today"),
        ],
        k=8,
    )
    # 10 shared tokens at offset 3 in both docs -> 3 duplicated 8-grams
    # (positions 3,4,5) fusing to span [3, 13)
    assert got == {(1, 3, 13, 10, 3), (2, 3, 13, 10, 3)}


def test_within_doc_repetition_alone_is_not_a_span(spark):
    got = _spans(
        spark,
        [
            (1, "repeat me now " * 8),
            (2, "entirely different content with no overlap whatsoever here"),
        ],
        k=8,
    )
    assert got == set()


def test_far_apart_duplicates_make_two_spans_close_ones_fuse(spark):
    filler_a = "unique filler alpha " * 8  # 24 tokens >> k: splits
    run2 = "lambda mu nu xi omicron pi rho sigma"
    a = f"{SHARED10} {filler_a} {run2}"
    b = f"padding words in front {SHARED10} more padding then {run2} done"
    got = _spans(spark, [(1, a), (2, b)], k=8)
    by_doc = {}
    for d, *span in got:
        by_doc.setdefault(d, []).append(span)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    # doc 1: SHARED10 at [0,10), run2 (8 tokens, 1 gram) at [34,42)
    assert sorted(by_doc[1]) == [[0, 10, 10, 3], [34, 42, 8, 1]]


def test_hot_gram_cap_drops_boilerplate(spark):
    cap = dedup.MAX_GRAM_OCCURRENCES
    rows = [(i, f"intro {i} {SHARED10} outro {i}") for i in range(cap + 1)]
    assert _spans(spark, rows, k=8) == set()
    assert len(_spans(spark, rows[:cap], k=8)) == cap


def test_plan_two_exchanges_no_join(spark):
    """The 100 TB contract: gram_md5 exchange serves both window
    counts (the (gram_md5, doc_id) window is clustering-satisfied),
    doc_id exchange serves island merge + final groupBy — two
    data-scale exchanges total, no join of any strategy."""
    docs = spark.createDataFrame(
        [(1, f"a b {SHARED10}"), (2, f"c d {SHARED10}")],
        "doc_id long, text string",
    )
    df = dedup.duplicate_spans(docs, k=8)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#", final)
    assert sorted(set(exchanges)) == ["doc_id", "gram_md5"], exchanges
    assert len(exchanges) == 2, exchanges
    for bad in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin", "collect_set",
    ):
        assert bad not in final, bad


def test_remove_spans_cuts_exactly_the_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, f"start one two {SHARED10} tail x y z"),
            (2, f"other words here {SHARED10} closing words now"),
            (3, "totally unrelated text with nothing shared at all today"),
        ],
        "doc_id long, text string",
    )
    spans = dedup.duplicate_spans(docs, k=8)
    out = {r.doc_id: r for r in dedup.remove_spans(docs, spans).collect()}
    assert out[1].clean_text == "start one two tail x y z"
    assert (out[1].n_tokens, out[1].n_tokens_removed) == (7, 10)
    assert out[2].clean_text == "other words here closing words now"
    # doc 3 has no spans: untouched, present, zero removed
    assert out[3].n_tokens_removed == 0
    assert out[3].clean_text.startswith("totally unrelated")


def test_remove_spans_can_empty_a_document(spark):
    docs = spark.createDataFrame(
        [(1, SHARED10), (2, SHARED10)], "doc_id long, text string"
    )
    spans = dedup.duplicate_spans(docs, k=8)
    out = {r.doc_id: r for r in dedup.remove_spans(docs, spans).collect()}
    assert out[1].clean_text == "" and out[1].n_tokens == 0
    assert out[1].n_tokens_removed == 10


def test_remove_spans_caller_policy_filter_respected(spark):
    """Passing a filtered spans table cuts only those occurrences —
    the keep-one-copy survivor policy composes on top."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, SHARED10), (2, SHARED10)], "doc_id long, text string"
    )
    spans = dedup.duplicate_spans(docs, k=8).where(F.col("doc_id") != 1)
    out = {r.doc_id: r for r in dedup.remove_spans(docs, spans).collect()}
    assert out[1].n_tokens_removed == 0 and out[1].n_tokens == 10
    assert out[2].n_tokens == 0


def test_incremental_equals_batch_on_affected_docs(spark):
    """The incremental probe must emit exactly the full-run spans for
    the affected set (delta docs + prior docs sharing a k-gram with
    the delta), across two fold rounds — the index append contract."""
    from pyspark.sql import functions as F

    run2 = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    rows = [
        (1, f"prior one {SHARED10} prior tail"),
        (2, f"prior two {SHARED10} other tail"),
        (3, f"prior three {run2} quiet end"),
        (4, "prior four nothing shared here at all in any way"),
        (10, f"delta one {run2} arrives now"),      # round-1 delta
        (11, f"delta two {SHARED10} also arrives"),  # round-2 delta
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prior0 = docs.where(F.col("doc_id").isin(1, 2, 3, 4))
    idx = dedup.span_gram_index(prior0).localCheckpoint(eager=True)

    def batch_affected(corpus, delta):
        full = dedup.duplicate_spans(corpus)
        dk = dedup.span_gram_index(delta).select("gram_md5").distinct()
        aff = (
            dedup.span_gram_index(corpus)
            .join(dk, "gram_md5", "leftsemi")
            .select("doc_id")
            .unionByName(delta.select("doc_id"))
            .distinct()
        )
        return {tuple(r) for r in full.join(aff, "doc_id", "leftsemi").collect()}

    for delta_id, corpus_ids in ((10, [1, 2, 3, 4, 10]), (11, [1, 2, 3, 4, 10, 11])):
        delta = docs.where(F.col("doc_id") == delta_id)
        spans, dix = dedup.duplicate_spans_incremental(delta, idx)
        got = {tuple(r) for r in spans.collect()}
        corpus = docs.where(F.col("doc_id").isin(corpus_ids))
        assert got == batch_affected(corpus, delta), delta_id
        idx = idx.unionByName(dix).localCheckpoint(eager=True)  # fold in


def test_incremental_untouched_prior_doc_not_recomputed_or_emitted(spark):
    docs = spark.createDataFrame(
        [
            (1, f"prior a {SHARED10} x"),
            (2, f"prior b {SHARED10} y"),
            (10, "delta shares absolutely nothing with the prior corpus today"),
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    prior = docs.where(F.col("doc_id") < 10)
    idx = dedup.span_gram_index(prior).localCheckpoint(eager=True)
    spans, _ = dedup.duplicate_spans_incremental(
        docs.where(F.col("doc_id") == 10), idx
    )
    # docs 1/2 still hold duplicated spans in the full corpus, but the
    # delta cannot affect them: the probe must not emit (or pay for) them
    assert spans.count() == 0


def test_incremental_plan_no_cartesian(spark):
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, f"a {SHARED10}"), (10, f"b {SHARED10}")], "doc_id long, text string"
    )
    idx = dedup.span_gram_index(docs.where(F.col("doc_id") == 1))
    spans, _ = dedup.duplicate_spans_incremental(
        docs.where(F.col("doc_id") == 10), idx
    )
    spans.collect()
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remove_spans_null_text_counts_as_zero_tokens(spark):
    """NULL text must read as an empty token stream (0/0), not NULL
    sizes — the oracle's accounting for the same row."""
    docs = spark.createDataFrame(
        [(1, None), (2, SHARED10), (3, SHARED10)], "doc_id long, text string"
    )
    spans = dedup.duplicate_spans(docs, k=8)
    out = {r.doc_id: r for r in dedup.remove_spans(docs, spans).collect()}
    assert (out[1].clean_text, out[1].n_tokens, out[1].n_tokens_removed) == ("", 0, 0)
