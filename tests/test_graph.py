"""Graph materialization: URI minting (GraphManager.py:48-55), set
semantics, adjacency, statistics."""

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import graph


def _linked(spark):
    return spark.createDataFrame(
        [
            # linked subject+object
            ("Q36159", "P19", "Q163922", False),
            # literal object with spaces (needs percent-encoding path)
            ("Q36159", "plays for", "the best team", True),
            # duplicate triple → must collapse with weight 2
            ("Q36159", "P19", "Q163922", False),
            # unlinked subject
            ("some person", "P19", "Q1", False),
        ],
        "subj_id string, pred_id string, obj_id string, is_literal boolean",
    ).select(
        F.col("subj_id").alias("subj"),
        F.col("pred_id").alias("pred"),
        F.col("obj_id").alias("obj"),
        F.col("subj_id"),
        F.col("pred_id"),
        F.col("obj_id"),
        "is_literal",
    )


def test_uri_minting_and_dedup(spark):
    edges = {
        (r.src_id, r.pred_id, r.dst_id): r
        for r in graph.build_edges(_linked(spark)).collect()
    }
    linked = edges[("Q36159", "P19", "Q163922")]
    assert linked.src_uri == "http://www.wikidata.org/entity/Q36159"
    assert linked.pred_uri == "http://www.wikidata.org/prop/direct/P19"
    assert linked.dst_uri == "http://www.wikidata.org/entity/Q163922"
    assert linked.weight == 2  # rdflib set semantics + multiplicity kept

    lit = edges[("Q36159", "plays for", "the best team")]
    assert lit.pred_uri == "http://example.org/property/plays_for"
    assert lit.dst_uri == "the best team"  # literals keep surface form

    unlinked = edges[("some person", "P19", "Q1")]
    assert unlinked.src_uri == "http://example.org/entity/some%20person"


def test_extract_id_inverse(spark):
    df = spark.createDataFrame(
        [
            ("http://www.wikidata.org/entity/Q42",),
            ("http://example.org/property/plays_for",),
        ],
        "uri string",
    )
    out = [r[0] for r in df.select(graph.extract_id_expr(F.col("uri"))).collect()]
    assert out == ["Q42", "plays for"]


def test_adjacency_sorted_deterministic(spark):
    edges = graph.build_edges(_linked(spark))
    adj = {r.node_id: r for r in graph.build_adjacency(edges).collect()}
    assert adj["Q36159"].out_degree == 2
    outs = [(o.pred_id, o.dst_id) for o in adj["Q36159"].out]
    assert outs == sorted(outs)


def test_statistics(spark):
    stats = graph.graph_statistics(graph.build_edges(_linked(spark))).collect()[0]
    assert stats.total_triples == 3
    assert stats.total_raw_triples == 4
    assert stats.unique_subjects == 2
    assert stats.unique_predicates == 2
    assert stats.unique_objects == 3


def test_turtle_lines(spark):
    lines = [
        r.line for r in graph.to_turtle_lines(graph.build_edges(_linked(spark))).collect()
    ]
    assert len(lines) == 3
    assert all(l.endswith(" .") for l in lines)
    assert any('"the best team"' in l for l in lines)


def test_k_hop_neighbors_min_hops(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_creation_from_text_with_llms_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
        "src_id string, dst_id string",
    )
    seeds = spark.createDataFrame([("a",)], "node_id string")
    out = {r.node_id: r.hops for r in graph.k_hop_neighbors(edges, seeds, 2).collect()}
    # c reachable at hop 1 via the shortcut, not 2; d at hop 2 via c
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_triangle_counts_hand_graph(spark):
    # K4 on a,b,c,d (every node in C(3,2)=3 triangles), a 4-cycle
    # w,x,y,z with no chord (0 triangles), a self-loop and a repeated /
    # reversed edge that must not change counts
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("c", "b"),            # reversed duplicate
         ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"),
         ("a", "a")],                        # self-loop
        "src_id string, dst_id string",
    )
    from knowledge_graph_creation_from_text_with_llms_spark.operators import graph

    got = {r.node_id: r.triangles for r in graph.triangle_counts(edges).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_pagerank_hand_graph(spark):
    """Star a->b, a->c, b->c, isolated pair d<->e; fixed-point 1-round
    hand check plus sink dominance after 3 rounds."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("e", "d")],
        "src_id string, dst_id string",
    )
    S = 10**12
    r1 = {r.node_id: r.rank_int for r in graph.pagerank(edges, iterations=1).collect()}
    # after 1 round: a gets no inflow -> (15*S + 0)/100
    assert r1["a"] == (15 * S) // 100
    # b <- a/2 : (15S + 85*(S//2))//100
    assert r1["b"] == (15 * S + 85 * (S // 2)) // 100
    # c <- a/2 + b/1
    assert r1["c"] == (15 * S + 85 * ((S // 2) + S)) // 100
    # d <-> e swap full mass: rank stays S (within rounding)
    assert abs(r1["d"] - S) <= 100 and r1["d"] == r1["e"]
    r3 = {r.node_id: r.rank_int for r in graph.pagerank(edges, iterations=3).collect()}
    assert r3["c"] > r3["b"] > r3["a"]  # sink of the chain dominates
    # determinism: bit-identical across runs
    again = {r.node_id: r.rank_int for r in graph.pagerank(edges, iterations=3).collect()}
    assert r3 == again


def test_pagerank_redistribute_dangling_hand_graph(spark):
    """a->b with b dangling, N=2: each round the mass on b is shared
    equally (share = rank_b DIV 2) — standard-formulation PageRank,
    hand-checked in fixed-point integers."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b")], "src_id string, dst_id string"
    )
    S = 10**12
    r = {
        r.node_id: r.rank_int
        for r in graph.pagerank(
            edges, iterations=1, redistribute_dangling=True
        ).collect()
    }
    share = S // 2  # dangling mass S on b, split over N=2 nodes
    assert r["a"] == (15 * S + 85 * share) // 100
    assert r["b"] == (15 * S + 85 * (S + share)) // 100
    # default variant drops the mass: strictly less total
    d = {
        x.node_id: x.rank_int
        for x in graph.pagerank(edges, iterations=1).collect()
    }
    assert d["a"] == (15 * S) // 100
    assert sum(d.values()) < sum(r.values())
    # mass ~conserved under redistribution (integer round-down only)
    assert abs(sum(r.values()) - 2 * S) < 200


def _random_labels(n=300, seed=7):
    """Seeded labels over an alphabet that exercises every branch of
    percent_quote_expr: quote's safe set (`_.-~/`), '*' and '+' (which
    Spark's form encoder treats differently), '%', whitespace, other
    ASCII punctuation, accented letters, CJK and emoji (4-byte UTF-8)."""
    import random

    alphabet = (
        list("abcXYZ019_.-~*/+%") + [" ", "\t", "\n"] + list("&=?#:@!$'(),;[]\"<>")
        + list("éüñÅç") + list("東京中文") + ["😀", "🚀"]
    )
    rng = random.Random(seed)
    out = ["", "Q42", "P19", "Plays For", "Quebec city", "some person"]
    while len(out) < n:
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        out.append(rng.choice(["", "Q", "P"]) + s)
    return out


def test_uri_minting_matches_urllib_quote(spark):
    """percent_quote_expr, entity_uri_expr and property_uri_expr equal
    their GraphManager.add_triple definitions over urllib.parse.quote
    on random labels. Any id starting with 'Q' (entities) or 'P'
    (properties) is minted as a Wikidata URI verbatim, as the reference
    does: "Plays For" becomes wdt:Plays For."""
    from urllib.parse import quote

    labels = _random_labels()
    got = spark.createDataFrame([(s,) for s in labels], "s string").select(
        "s",
        graph.percent_quote_expr(F.col("s")).alias("q"),
        graph.entity_uri_expr(F.col("s")).alias("ent"),
        graph.property_uri_expr(F.col("s")).alias("prop"),
    ).collect()
    assert len(got) == len(labels)
    for r in got:
        s = r.s
        assert r.q == quote(s), s
        assert r.ent == (graph.WD + s if s.startswith("Q") else graph.EX_ENT + quote(s)), s
        assert r.prop == (
            graph.WDT + s if s.startswith("P")
            else graph.EX_PROP + quote(s.lower().replace(" ", "_"))
        ), s
    by_label = {r.s: r for r in got}
    assert by_label["Plays For"].prop == graph.WDT + "Plays For"
    assert by_label["Quebec city"].ent == graph.WD + "Quebec city"
    assert by_label["some person"].ent == graph.EX_ENT + "some%20person"
