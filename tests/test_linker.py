"""Linker preference order and strategies (Matcher.py:44-256)."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import linker


@pytest.fixture()
def entity_dict(spark):
    return spark.createDataFrame(
        [
            ("Q2", "king james", "LeBron James", 1),   # alias
            ("Q1", "LeBron James", "LeBron James", 0),  # exact label
            ("Q9", "Akron", "Akron", 0),
            ("Q9", "Akron", "akron ohio", 1),
        ],
        "entity_id string, label string, alias string, rank int",
    )


def test_exact_label_beats_alias(spark, entity_dict):
    facts = spark.createDataFrame([("lebron james",)], "name string")
    out = linker.link_labels(facts, entity_dict, "name", "eid").collect()
    assert out[0].eid == "Q1"  # rank 0 wins over the Q2 alias row


def test_case_insensitive_trimmed_match(spark, entity_dict):
    facts = spark.createDataFrame([("  AKRON OHIO ",)], "name string")
    out = linker.link_labels(facts, entity_dict, "name", "eid").collect()
    assert out[0].eid == "Q9"


def test_unmatched_stays_null(spark, entity_dict):
    facts = spark.createDataFrame([("nonexistent",)], "name string")
    out = linker.link_labels(facts, entity_dict, "name", "eid").collect()
    assert out[0].eid is None


def test_tie_breaks_on_smallest_id(spark):
    d = spark.createDataFrame(
        [("Q7", "x", "x", 0), ("Q3", "x", "x", 0)],
        "entity_id string, label string, alias string, rank int",
    )
    facts = spark.createDataFrame([("x",)], "name string")
    assert linker.link_labels(facts, d, "name", "eid").collect()[0].eid == "Q3"


@pytest.fixture()
def property_dict(spark):
    return spark.createDataFrame(
        [
            ("P54", "member of sports team", "member of sports team", 0, [1.0, 0.0, 0.0]),
            ("P54", "member of sports team", "played for", 1, [0.9, 0.1, 0.0]),
            ("P19", "place of birth", "place of birth", 0, [0.0, 1.0, 0.0]),
            ("P19", "place of birth", "born in", 1, [0.0, 0.9, 0.1]),
        ],
        "prop_id string, label string, alias string, rank int, embedding array<float>",
    )


def test_topk_cosine_alias_wins_when_strictly_better(spark, property_dict):
    preds = spark.createDataFrame(
        [("played for", [0.9, 0.1, 0.0])], "pred string, pred_embedding array<float>"
    )
    out = linker.topk_properties(preds, property_dict, k=2).collect()
    best = [r for r in out if r.rank_pos == 1][0]
    assert best.prop_id == "P54"
    assert best.best_match_text == "played for"  # alias beat the label
    assert best.label == "member of sports team"


def test_link_predicates_mixed_falls_back_to_cosine(spark, property_dict):
    facts = spark.createDataFrame(
        [("born in",), ("place of birth",)], "pred string"
    )
    embs = spark.createDataFrame(
        [("born in", [0.0, 0.9, 0.1]), ("place of birth", [0.0, 1.0, 0.0])],
        "pred string, pred_embedding array<float>",
    )
    out = {
        r.pred: r.pred_id
        for r in linker.link_predicates(
            facts, property_dict, method="mixed", pred_embeddings=embs
        ).collect()
    }
    assert out["place of birth"] == "P19"  # exact path
    assert out["born in"] == "P19"  # cosine fallback (alias embedding)


def test_link_triples_literal_flag(spark, entity_dict, property_dict):
    triples = spark.createDataFrame(
        [
            ("d", 1, "LeBron James", "place of birth", "Akron", "h"),
            ("d", 1, "LeBron James", "place of birth", "a sentence", "h"),
        ],
        "doc_id string, chunk_id int, subj string, pred string, obj string,"
        " content_sha256 string",
    )
    out = {
        r.obj: (r.obj_id, r.is_literal)
        for r in linker.link_triples(triples, entity_dict, property_dict).collect()
    }
    assert out["Akron"] == ("Q9", False)
    assert out["a sentence"] == (None, True)


def test_invalid_method_raises(spark, entity_dict, property_dict):
    facts = spark.createDataFrame([("x",)], "pred string")
    with pytest.raises(ValueError, match="Invalid method"):
        linker.link_predicates(facts, property_dict, method="bogus")


# -- bit-identity against the per-fact formulation ------------------------------
#
# The reference below is the earlier formulation of link_predicates /
# link_triples: cosine top-1 over every distinct predicate with
# cosine_expr (three folds per pair), the subj and obj lookups each
# ranking the dictionary, and "mixed" as exact-then-coalesce on the
# fact rows. The rewrite must return the same rows in the same column
# order.


def _ref_topk(predicates, property_dict, k):
    from pyspark.sql import Window

    from knowledge_graph_creation_from_text_with_llms_spark.functions.vectors import (
        cosine_expr,
    )

    d = F.broadcast(
        property_dict.select(
            "prop_id",
            F.col("label").alias("_plabel"),
            "alias",
            F.col("rank").alias("_prank"),
            F.col("embedding").alias("_pemb"),
        )
    )
    scored = predicates.crossJoin(d).withColumn(
        "_sim", cosine_expr(F.col("pred_embedding"), F.col("_pemb"))
    )
    per_prop = scored.groupBy("pred", "prop_id").agg(
        F.max("_sim").alias("similarity"),
        F.max("_plabel").alias("label"),
        F.max_by(
            "alias",
            F.struct(
                F.col("_sim"),
                F.when(F.col("_prank") == 0, 1).otherwise(0),
                F.col("alias"),
            ),
        ).alias("best_match_text"),
    )
    w = Window.partitionBy("pred").orderBy(F.desc("similarity"), F.asc("prop_id"))
    return per_prop.withColumn("rank_pos", F.row_number().over(w)).where(
        F.col("rank_pos") <= k
    )


def _ref_link_predicates(facts, property_dict, method, pred_embeddings=None):
    from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
        hash_embedding_expr,
    )

    if method == "exact":
        return linker.link_labels(facts, property_dict, "pred", "pred_id", id_col="prop_id")
    if pred_embeddings is None:
        pred_embeddings = (
            facts.select("pred")
            .distinct()
            .withColumn("pred_embedding", hash_embedding_expr(F.col("pred")))
        )
    top1 = _ref_topk(pred_embeddings, property_dict, 1).select(
        "pred", F.col("prop_id").alias("_cos_id")
    )
    if method == "cos_similarity":
        return facts.join(F.broadcast(top1), on="pred", how="left").withColumnRenamed(
            "_cos_id", "pred_id"
        )
    exact = linker.link_labels(facts, property_dict, "pred", "pred_id", id_col="prop_id")
    return (
        exact.join(F.broadcast(top1), on="pred", how="left")
        .withColumn("pred_id", F.coalesce(F.col("pred_id"), F.col("_cos_id")))
        .drop("_cos_id")
    )


def _ref_link_triples(triples, entity_dict, property_dict, method, pred_embeddings=None):
    out = linker.link_labels(triples, entity_dict, "subj", "subj_id")
    out = linker.link_labels(out, entity_dict, "obj", "obj_id")
    out = _ref_link_predicates(out, property_dict, method, pred_embeddings)
    return out.withColumn("is_literal", F.col("obj_id").isNull())


@pytest.fixture()
def edge_entities(spark):
    return spark.createDataFrame(
        [
            ("Q1", "Akron", "Akron", 0),
            ("Q2", "Akron Zips", "akron", 1),         # alias of the Q1 label text
            ("Q5", "Ohio", " OHIO ", 0),               # label with padding/case
            ("Q4", "Buckeye State", "ohio", 0),        # label/label tie: Q4 < Q5
            ("Q8", "King", "the king", 1),             # alias shared at rank 1 ...
            ("Q7", "Kingdom", "the king", 1),          # ... and equal rank: Q7 wins
            ("Q9", "Nobody", None, 1),                 # NULL alias never matches
        ],
        "entity_id string, label string, alias string, rank int",
    )


@pytest.fixture()
def edge_properties(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
        embed_labels,
    )

    rows = [
        ("P10", "member of", "member of", 0),
        ("P10", "member of", "plays for", 1),
        ("P20", "place of birth", "place of birth", 0),
        ("P20", "place of birth", "born in", 1),
        # P31 and P30 share an alias: every predicate ties across them
        ("P31", "employer", "works at", 0),
        ("P30", "workplace", "works at", 1),
        ("P40", "punctuation", "!!!", 0),           # token-less: NULL embedding
    ]
    props = spark.createDataFrame(rows, "prop_id string, label string, alias string, rank int")
    return embed_labels(props, "alias")


@pytest.fixture()
def edge_triples(spark):
    rows = [
        ("d", 1, "Akron", "plays for", "Ohio", "h"),
        ("d", 1, " akron ", "  PLAYS FOR ", "the king", "h"),
        ("d", 2, "the King", "born in", "nowhere", "h"),
        ("d", 2, "Ohio", "was born in", "AKRON", "h"),
        ("d", 3, None, "works at", "Akron", "h"),
        ("d", 3, "Akron", None, "Ohio", "h"),
        ("d", 3, "Akron", "works", None, "h"),
        ("d", 4, "Ohio", "?!", "Ohio", "h"),             # token-less predicate
        ("d", 4, "Ohio", "", "the king", "h"),           # empty predicate
        ("d", 4, "x", "place of birth", "y", "h"),
        ("d", 5, "x", "Place Of Birth", "y", "h"),
        ("d", 5, "x", "member", "y", "h"),
        ("d", 5, "x", "member", "y", "h"),               # duplicate fact row
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, chunk_id int, subj string, pred string, obj string,"
        " content_sha256 string",
    )


@pytest.fixture()
def edge_pred_embeddings(spark):
    return spark.createDataFrame(
        [
            ("plays for", [0.5, -0.25, 0.125] + [0.0] * 13),
            ("born in", None),                              # no vector: ties at NULL
            ("works at", [1.0] * 16),
            ("works", [0.0] * 16),                          # zero norm
            ("?!", [-1.0, 1.0] + [0.0] * 14),
            ("not in the facts", [1.0] * 16),
            ("member", [0.25] * 16),
            ("member", [-0.25] * 16),                       # two vectors for one pred
        ],
        "pred string, pred_embedding array<double>",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


_ORDER = {
    "exact": ["doc_id", "chunk_id", "subj", "pred", "obj", "content_sha256", "pred_id"],
    "cos_similarity": ["pred", "doc_id", "chunk_id", "subj", "obj", "content_sha256", "pred_id"],
    "mixed": ["pred", "doc_id", "chunk_id", "subj", "obj", "content_sha256", "pred_id"],
}


@pytest.mark.parametrize("method", ["exact", "cos_similarity", "mixed"])
@pytest.mark.parametrize("passed", [False, True])
def test_link_predicates_bit_identical_to_reference(
    spark, method, passed, edge_triples, edge_properties, edge_pred_embeddings
):
    embs = edge_pred_embeddings if passed else None
    got = linker.link_predicates(
        edge_triples, edge_properties, method=method, pred_embeddings=embs
    )
    want = _ref_link_predicates(edge_triples, edge_properties, method, embs)
    assert got.columns == want.columns == _ORDER[method]
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("method", ["exact", "cos_similarity", "mixed"])
@pytest.mark.parametrize("passed", [False, True])
def test_link_triples_bit_identical_to_reference(
    spark, method, passed, edge_triples, edge_entities, edge_properties,
    edge_pred_embeddings,
):
    embs = edge_pred_embeddings if passed else None
    got = linker.link_triples(
        edge_triples, edge_entities, edge_properties, method=method, pred_embeddings=embs
    )
    want = _ref_link_triples(edge_triples, edge_entities, edge_properties, method, embs)
    head = _ORDER[method][:-1]
    assert got.columns == want.columns == head + ["subj_id", "obj_id", "pred_id", "is_literal"]
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_link_edge_cases_resolve_as_documented(
    spark, edge_triples, edge_entities, edge_properties
):
    out = linker.link_triples(edge_triples, edge_entities, edge_properties, method="mixed")
    by_key = {(r.chunk_id, r.subj, r.pred): r for r in out.collect()}
    r = by_key[(1, " akron ", "  PLAYS FOR ")]
    assert (r.subj_id, r.pred_id, r.obj_id) == ("Q1", "P10", "Q7")  # trim/case, shared alias
    assert by_key[(1, "Akron", "plays for")].obj_id == "Q4"        # label/label tie
    assert by_key[(4, "Ohio", "?!")].pred_id == "P10"              # NULL embedding: smallest id
    assert by_key[(3, "Akron", None)].pred_id is None              # NULL pred never links
    assert by_key[(3, None, "works at")].subj_id is None
    assert by_key[(3, None, "works at")].pred_id == "P31"           # exact: label rank beats alias
    r = by_key[(3, "Akron", "works")]
    assert r.pred_id == "P30"                                       # cosine tie: smallest id
    assert r.is_literal                                             # NULL obj is a literal
    assert by_key[(5, "x", "Place Of Birth")].pred_id == "P20"      # exact, case-insensitive


def _plan_nodes(plan):
    """Every node of an executed adaptive plan: descends into query
    stages and the final plan, not into reused exchanges (a reused
    exchange runs once)."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name != "ReusedExchange":
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return out


def test_link_triples_plan_ranks_entities_once_and_scores_on_every_core(
    spark, tmp_path, edge_entities, edge_properties
):
    """The executed plan ranks the entity dictionary in one Window, and
    the cosine scoring (the broadcast nested-loop join) runs on
    defaultParallelism partitions: AQE must not coalesce the distinct
    predicates into one task."""
    triples = spark.createDataFrame(
        [("d", i % 7, f"e{i % 40}", f"pred {i % 60} of", f"e{i % 50}", "h")
         for i in range(600)],
        "doc_id string, chunk_id int, subj string, pred string, obj string,"
        " content_sha256 string",
    )
    # the pipeline reads its tables from parquet
    triples.write.parquet(str(tmp_path / "t"))
    edge_entities.write.parquet(str(tmp_path / "e"))
    out = linker.link_triples(
        spark.read.parquet(str(tmp_path / "t")),
        spark.read.parquet(str(tmp_path / "e")),
        edge_properties,
        method="mixed",
    )
    out.collect()  # runs this DataFrame's own (adaptive) plan
    nodes = _plan_nodes(out._jdf.queryExecution().executedPlan())
    heads = [(n.nodeName(), n.toString().split("\n")[0]) for n in nodes]
    entity_windows = [h for name, h in heads if name == "Window" and "entity_id" in h]
    assert len(entity_windows) == 1, entity_windows
    scorers = [n for n in nodes if n.nodeName() == "BroadcastNestedLoopJoin"]
    assert scorers
    parallelism = spark.sparkContext.defaultParallelism
    assert [n.outputPartitioning().numPartitions() for n in scorers] == [parallelism] * len(scorers)
