"""Deterministic hash embeddings + TTL round-trip."""

import hashlib

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
    hash_embedding_expr,
)
from knowledge_graph_creation_from_text_with_llms_spark.operators import graph


def _py_hash_emb(text, dim=16):
    import re

    if text is None:
        return None
    toks = re.findall(r"[a-z0-9]+", text.lower())
    if not toks:
        return None
    out = []
    for d in range(dim):
        s = 0.0
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            s += int(h[2 * d : 2 * d + 2], 16) / 127.5 - 1.0
        out.append(s / len(toks))
    return out


def test_hash_embedding_matches_python_reference(spark):
    rows = [("member of sports team",), ("played for",), ("",)]
    df = spark.createDataFrame(rows, "s string")
    got = {r.s: r.e for r in df.select("s", hash_embedding_expr("s").alias("e")).collect()}
    assert got[""] is None
    for s in ("member of sports team", "played for"):
        assert got[s] == _py_hash_emb(s)


def test_hash_embedding_bit_exact_on_random_texts(spark):
    import random

    rng = random.Random(20261017)
    alphabet = "abcXYZ019 -_.,!?\t\n\u00e9"
    texts = ["", None, "   ", "!!!", "a", "A a  a"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(400)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    got = {r.i: r.e for r in df.select("i", hash_embedding_expr("s").alias("e")).collect()}
    for i, t in enumerate(texts):
        want = _py_hash_emb(t)
        hexes = None if got[i] is None else [x.hex() for x in got[i]]
        assert hexes == (None if want is None else [x.hex() for x in want]), t


def _lambda_count(col) -> int:
    # the column's expression string renders each lambda as "args -> body"
    return col._jc.toString().count("->")


def test_hash_embedding_lambda_count_does_not_grow_with_dim(spark):
    """One handful of lambdas for all DIM components: a per-component
    form builds two lambdas per component, and its driver-side
    construction cost grows with them."""
    from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import DIM

    assert _lambda_count(hash_embedding_expr(F.col("s"))) < DIM


def test_bind_once_evaluates_the_bound_value_once(spark):
    """bind_once must leave its value as ONE expression in the
    optimized and executed plans, however often `fn` reads it: a
    captured subexpression inside a lambda would re-run per element."""
    from knowledge_graph_creation_from_text_with_llms_spark.functions.text import (
        bind_once,
        tokens_expr,
    )

    df = spark.createDataFrame([("a b c",), ("",)], "s string")
    bound = bind_once(
        tokens_expr("s"),
        lambda toks: F.transform(toks, lambda t: F.concat(t, F.lit(":"), F.element_at(toks, 1))),
    )
    out = df.select(bound.alias("x"))
    assert [r.x for r in out.collect()] == [["a:a", "b:a", "c:a"], []]
    qe = out._jdf.queryExecution()
    for plan in (qe.optimizedPlan(), qe.executedPlan()):
        assert plan.toString().count("regexp_extract_all(") == 1


def test_similar_texts_higher_cosine(spark):
    from knowledge_graph_creation_from_text_with_llms_spark.functions.vectors import (
        cosine_expr,
    )

    df = spark.createDataFrame(
        [("plays for team", "played for team plays", "completely different words")],
        "a string, b string, c string",
    )
    r = df.select(
        cosine_expr(hash_embedding_expr("a"), hash_embedding_expr("b")).alias("ab"),
        cosine_expr(hash_embedding_expr("a"), hash_embedding_expr("c")).alias("ac"),
    ).collect()[0]
    assert r.ab > r.ac  # shared tokens ⇒ higher similarity


def test_turtle_round_trip(spark):
    linked = spark.createDataFrame(
        [
            ("Q1", "P2", "Q3", "Q1", "P2", "Q3", False),
            ("LeBron James", "plays for", "the best team", None, None, None, True),
        ],
        "subj string, pred string, obj string, subj_id string, pred_id string,"
        " obj_id string, is_literal boolean",
    )
    edges = graph.build_edges(linked)
    lines = graph.to_turtle_lines(edges)
    back = graph.from_turtle_lines(lines).collect()
    got = {(r.src_id, r.pred_id, r.dst_id, r.is_literal) for r in back}
    assert ("Q1", "P2", "Q3", False) in got
    assert ("LeBron James", "plays for", "the best team", True) in got
