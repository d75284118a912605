"""Deterministic splitting / sampling and decontamination semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import (
    contamination,
    sampling,
)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text of document number "), F.col("id")).alias("text"),
    )


def test_assign_splits_partition_and_proportions(spark):
    docs = _docs(spark, 2000)
    out = sampling.assign_splits(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.cnt for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # hash buckets are uniform: proportions within a loose tolerance
    assert 0.7 < counts["train"] / 2000 < 0.9
    assert 0.05 < counts["val"] / 2000 < 0.16


def test_assign_splits_growth_stable(spark):
    """Adding documents must never move an existing one between splits."""
    small = sampling.assign_splits(_docs(spark, 100)).collect()
    big = {r.doc_id: r.split for r in sampling.assign_splits(_docs(spark, 1000)).collect()}
    for r in small:
        assert big[r.doc_id] == r.split


def test_hash_sample_monotone_membership(spark):
    small = {r.doc_id for r in sampling.hash_sample(_docs(spark, 100), 0.3).collect()}
    big = {r.doc_id for r in sampling.hash_sample(_docs(spark, 1000), 0.3).collect()}
    assert small == {d for d in big if d < 100}
    # deterministic across runs
    again = {r.doc_id for r in sampling.hash_sample(_docs(spark, 100), 0.3).collect()}
    assert small == again


def test_hash_sample_fraction_bounds(spark):
    import pytest

    with pytest.raises(ValueError):
        sampling.hash_sample(_docs(spark), 1.5)
    assert sampling.hash_sample(_docs(spark, 50), 0.0).count() == 0
    assert sampling.hash_sample(_docs(spark, 50), 1.0).count() == 50


def test_contamination_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "completely unrelated words here entirely"),
            (3, "prefix quick brown fox suffix tokens"),  # shares 3-gram with probe
            (4, "qu ick brown"),                           # too short / no shared 3-gram
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, "the quick brown fox leaps")], "pid long, text string"
    )
    flags = {
        r.doc_id: (r.n_contaminated_grams, r.contaminated)
        for r in contamination.contamination_flags(
            docs, probes, n=3, probe_text_col="text"
        ).collect()
    }
    # doc 1 shares "the quick brown" and "quick brown fox"
    assert flags[1] == (2, True)
    assert flags[2] == (0, False)
    assert flags[3] == (1, True)
    assert flags[4] == (0, False)


def test_weighted_hash_sample_rate_extremes_and_determinism(spark):
    docs = _docs(spark, 500).withColumn(
        "rate", F.when(F.col("doc_id") % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    kept = {r.doc_id for r in sampling.weighted_hash_sample(docs, "rate").collect()}
    assert kept == {d for d in range(500) if d % 2 == 0}  # rate 1 keeps, 0 drops
    # out-of-range rates clamp instead of corrupting the cut
    docs2 = _docs(spark, 50).withColumn("rate", F.lit(7.5))
    assert sampling.weighted_hash_sample(docs2, "rate").count() == 50


def test_mix_corpus_composition_and_binding_group(spark):
    rows = (
        [(i, "a", "t") for i in range(1000)]
        + [(1000 + i, "b", "t") for i in range(100)]
        + [(2000 + i, "c", "t") for i in range(500)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sampling.mix_corpus(docs, {"a": 0.5, "b": 0.5})
    counts = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert "c" not in counts            # unweighted group dropped
    assert counts["b"] == 100           # binding group: rate 1.0, all kept
    assert 60 <= counts["a"] <= 140     # thinned toward ~100 (hash noise)
    # determinism across runs
    again = sampling.mix_corpus(docs, {"a": 0.5, "b": 0.5})
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_pack_sequences_contract(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(7))) for i in range(40)],
        "doc_id long, text string",
    )  # 7 tokens per doc
    out = packing.pack_sequences(docs, seq_len=10, n_buckets=4).collect()
    by_id = {r.doc_id: r for r in out}
    assert all(r.n_tokens == 7 for r in out)
    # bucket 0 holds doc_ids 0,4,8,... in order; starts 0,7,14,21 →
    # packs 0,0,1,2 and offsets 0,7,4,1
    b0 = [by_id[i] for i in (0, 4, 8, 12)]
    assert [(r.pack_id, r.start_in_pack) for r in b0] == [
        (0, 0), (0, 7), (1, 4), (2, 1)
    ]
    # no token budget overflow: within a (bucket, pack) the doc START
    # offsets all lie inside the pack
    assert all(0 <= r.start_in_pack < 10 for r in out)


def test_pack_sequences_string_ids(spark):
    """Non-numeric ids bucket via a deterministic md5 hash instead of
    pmod on the raw id (which only works for numeric-castable
    strings); assignment is stable across runs and buckets stay in
    range."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import packing

    docs = spark.createDataFrame(
        [(f"doc/{i}/v1", "some tokens here now") for i in range(50)],
        "doc_id string, text string",
    )
    out = packing.pack_sequences(docs, seq_len=8, n_buckets=4).collect()
    assert len(out) == 50
    assert all(0 <= r.bucket < 4 for r in out)
    assert len({r.bucket for r in out}) > 1  # hash actually spreads
    again = packing.pack_sequences(docs, seq_len=8, n_buckets=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    assert all(0 <= r.start_in_pack < 8 for r in out)


def test_stratified_split_exact_proportions(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, "a" if i < 100 else "b", "t") for i in range(140)],
        "doc_id long, source string, text string",
    )
    out = sampling.stratified_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    from collections import Counter

    c = Counter((r.source, r.split) for r in out)
    assert c[("a", "train")] == 80 and c[("a", "val")] == 10 and c[("a", "test")] == 10
    assert c[("b", "train")] == 32 and c[("b", "val")] == 4 and c[("b", "test")] == 4
    # deterministic under reordered input
    again = sampling.stratified_split(
        docs.orderBy(F.desc("doc_id")),
        "source",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).collect()
    assert {(r.doc_id, r.split) for r in out} == {(r.doc_id, r.split) for r in again}
