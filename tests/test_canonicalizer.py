"""Doc-salted two-phase canonicalization reduce."""

import hashlib

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import canonicalizer


def _mentions(spark):
    rows = []
    # hub entity with many surface forms across docs (the skew case)
    for d in range(40):
        rows.append((f"doc{d}", "LeBron James"))
        rows.append((f"doc{d}", "lebron james!"))
    rows.append(("doc0", "  LeBron   James  "))
    rows.append(("doc1", "Akron"))
    rows.append(("doc2", "!!!"))  # normalizes to "", never a node
    return spark.createDataFrame(rows, "doc_id string, label string")


def test_salted_counts_match_plain_groupby(spark):
    """The doc-salted two-scan reduce equals a plain single-phase groupBy
    on every output column: counts, surrogate id and sorted aliases."""
    m = _mentions(spark)
    salted = {
        r.canonical_key: (r.node_id, r.n_mentions, r.n_docs, tuple(r.aliases))
        for r in canonicalizer.salted_mention_counts(m).collect()
    }
    plain = {
        r.k: (r.node_id, r.nm, r.nd, tuple(r.aliases))
        for r in m.select(
            canonicalizer.canonical_key_expr("label").alias("k"),
            "label",
            "doc_id",
        )
        .where(F.col("k") != "")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("nm"),
            F.countDistinct("doc_id").alias("nd"),
            F.array_sort(F.collect_set("label")).alias("aliases"),
        )
        .withColumn("node_id", canonicalizer.surrogate_id_expr(F.col("k")))
        .collect()
    }
    assert salted == plain
    assert salted["lebron james"][1:3] == (81, 40)
    assert salted["akron"][1:3] == (1, 1)


def test_coreferent_forms_merge(spark):
    out = canonicalizer.salted_mention_counts(_mentions(spark)).collect()
    lebron = [r for r in out if r.canonical_key == "lebron james"][0]
    assert sorted(lebron.aliases) == [
        "  LeBron   James  ",
        "LeBron James",
        "lebron james!",
    ]


def test_surrogate_ids_stable(spark):
    """node_id is md5 of the canonical key alone: the same for any input
    layout, and reproducible outside Spark."""
    m = _mentions(spark)
    a = canonicalizer.salted_mention_counts(m.repartition(1)).collect()
    b = canonicalizer.salted_mention_counts(m.repartition(7)).collect()
    ids = {r.canonical_key: r.node_id for r in a}
    assert ids == {r.canonical_key: r.node_id for r in b}
    assert ids == {
        k: "E" + hashlib.md5(k.encode()).hexdigest()[:16] for k in ids
    }
