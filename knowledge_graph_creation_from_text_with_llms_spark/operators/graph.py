"""Graph materialization: linked triples → edges / adjacency, plus the
graph analytics the gates run over edges.

URI minting reproduces GraphManager.add_triple (GraphManager.py:48-55):
  - id startswith 'Q'  → http://www.wikidata.org/entity/{id}
  - else               → http://example.org/entity/{percent-encoded id}
  - pred startswith 'P'→ http://www.wikidata.org/prop/direct/{id}
  - else               → http://example.org/property/{lower, ' '→'_',
                          percent-encoded}
  - is_literal objects keep their surface form (no URI).

Edge set semantics: rdflib.Graph is a set, so identical triples
collapse — build_edges groups on (src_id, pred_id, dst_id, is_literal)
and keeps the pre-dedup multiplicity as `weight`.

build_edges and build_adjacency are the one formulation of both
tables: KGPipeline commits them, and the graph-family gates (kg_edges,
kg_adjacency and the analytics over gate._edges) run them against
their DuckDB oracles. build_adjacency repartitions by src_id and
sorts each neighbor array, so its output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WD = "http://www.wikidata.org/entity/"
WDT = "http://www.wikidata.org/prop/direct/"
EX_ENT = "http://example.org/entity/"
EX_PROP = "http://example.org/property/"


def percent_quote_expr(c: Column) -> Column:
    """urllib.parse.quote parity (the reference's encoder,
    GraphManager.py:48-49) on top of Spark's form-style url_encode:
    space → %20 (not '+'), '~' kept, '*' encoded, '/' kept (quote's
    default safe set)."""
    e = F.url_encode(c)
    e = F.regexp_replace(e, r"\+", "%20")
    e = F.regexp_replace(e, "%7E", "~")
    e = F.regexp_replace(e, r"\*", "%2A")
    e = F.regexp_replace(e, "%2F", "/")
    return e


def entity_uri_expr(id_col: Column) -> Column:
    return F.when(
        id_col.startswith("Q"), F.concat(F.lit(WD), id_col)
    ).otherwise(F.concat(F.lit(EX_ENT), percent_quote_expr(id_col)))


def property_uri_expr(id_col: Column) -> Column:
    return F.when(
        id_col.startswith("P"), F.concat(F.lit(WDT), id_col)
    ).otherwise(
        F.concat(
            F.lit(EX_PROP),
            percent_quote_expr(F.regexp_replace(F.lower(id_col), " ", "_")),
        )
    )


def extract_id_expr(uri: Column) -> Column:
    """Inverse: [QP]\\d+ tail of a URI, else last path segment with
    '_'→' ' (GraphManager.py:123-136)."""
    qp = F.regexp_extract(uri, r"([QP]\d+)$", 1)
    last = F.regexp_replace(F.element_at(F.split(uri, "/"), -1), "_", " ")
    return F.when(qp != "", qp).otherwise(last)


def build_edges(triples_linked: DataFrame) -> DataFrame:
    """triples_linked → edges with URIs, set-dedup, and weight.
    Falls back to surface forms when ids are NULL
    (`subject_id or subject`, Integrator.py:145-150)."""
    resolved = triples_linked.select(
        F.coalesce("subj_id", "subj").alias("src_id"),
        F.coalesce("pred_id", "pred").alias("pred_id"),
        F.coalesce("obj_id", "obj").alias("dst_id"),
        F.col("is_literal"),
    )
    deduped = resolved.groupBy("src_id", "pred_id", "dst_id", "is_literal").agg(
        F.count(F.lit(1)).alias("weight")
    )
    return deduped.select(
        "src_id",
        "pred_id",
        "dst_id",
        "is_literal",
        entity_uri_expr(F.col("src_id")).alias("src_uri"),
        property_uri_expr(F.col("pred_id")).alias("pred_uri"),
        F.when(F.col("is_literal"), F.col("dst_id"))
        .otherwise(entity_uri_expr(F.col("dst_id")))
        .alias("dst_uri"),
        "weight",
    )


def merge_edges(prior: DataFrame, delta: DataFrame) -> DataFrame:
    """Sum-merge two edge tables with identical schema.

    Edges is a purely additive aggregate of triples (weight = row
    count per key) and every URI column is a function of its group
    key, so merging the prior edges snapshot with the delta's edges is
    byte-identical to rebuilding from the union of all triples —
    without re-reading them. This is the incremental compaction path:
    the merge shuffles |prior edges| + |delta edges| rows instead of
    every linked triple ever ingested.
    """
    return (
        prior.unionByName(delta)
        .groupBy(
            "src_id", "pred_id", "dst_id", "is_literal",
            "src_uri", "pred_uri", "dst_uri",
        )
        .agg(F.sum("weight").cast("long").alias("weight"))
    )


def build_adjacency(edges: DataFrame) -> DataFrame:
    """edges → adjacency list per source node: (node_id, out, out_degree)
    with `out` the (pred_id, dst_id) structs sorted ascending."""
    return (
        edges.repartition(F.col("src_id"))
        .groupBy(F.col("src_id").alias("node_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pred_id", "dst_id"))
            ).alias("out"),
            F.count(F.lit(1)).cast("int").alias("out_degree"),
        )
    )


def graph_statistics(edges: DataFrame) -> DataFrame:
    """GraphManager.get_statistics (GraphManager.py:57-69): total
    triples + distinct subjects/predicates/objects, exact."""
    return edges.agg(
        F.sum("weight").alias("total_raw_triples"),
        F.count(F.lit(1)).alias("total_triples"),
        F.countDistinct("src_id").alias("unique_subjects"),
        F.countDistinct("pred_id").alias("unique_predicates"),
        F.countDistinct("dst_id").alias("unique_objects"),
    )


def from_turtle_lines(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Inverse of to_turtle_lines (GraphManager.load_graph analogue,
    GraphManager.py:108-121): N-Triples-ish lines → (src_id, pred_id,
    dst_id, is_literal) via extract_id_expr."""
    uri = r"^<([^>]*)> <([^>]*)> (.*) \.$"
    parsed = lines.select(
        F.regexp_extract(F.col(line_col), uri, 1).alias("src_uri"),
        F.regexp_extract(F.col(line_col), uri, 2).alias("pred_uri"),
        F.regexp_extract(F.col(line_col), uri, 3).alias("obj_part"),
    ).where(F.col("src_uri") != "")
    is_lit = F.col("obj_part").startswith('"')

    def _ident(uri: Column) -> Column:
        # extract_id_expr is the reference's (lossy, percent-encoded)
        # extractor; url_decode restores the original surface form so
        # the round-trip to_turtle_lines ∘ from_turtle_lines is exact
        return F.url_decode(extract_id_expr(uri))

    dst = F.when(
        is_lit,
        F.regexp_replace(
            F.regexp_extract("obj_part", r'^"(.*)"$', 1), r'\\"', '"'
        ),
    ).otherwise(_ident(F.regexp_extract("obj_part", r"^<(.*)>$", 1)))
    return parsed.select(
        _ident(F.col("src_uri")).alias("src_id"),
        _ident(F.col("pred_uri")).alias("pred_id"),
        dst.alias("dst_id"),
        is_lit.alias("is_literal"),
    )


def to_turtle_lines(edges: DataFrame) -> DataFrame:
    """N-Triples-ish text lines for TTL-parity artifacts (small graphs
    only — a driver-side nicety, not a scale path)."""
    obj = F.when(
        F.col("is_literal"),
        F.concat(F.lit('"'), F.regexp_replace("dst_uri", '"', '\\\\"'), F.lit('"')),
    ).otherwise(F.concat(F.lit("<"), F.col("dst_uri"), F.lit(">")))
    return edges.select(
        F.concat(
            F.lit("<"), F.col("src_uri"), F.lit("> <"), F.col("pred_uri"),
            F.lit("> "), obj, F.lit(" ."),
        ).alias("line")
    ).orderBy("line")


def k_hop_neighbors(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    seed_col: str = "node_id",
) -> DataFrame:
    """(node_id, hops): every node reachable from the seed set in at
    most k directed hops, with the minimum hop count. k bounded
    iterative frontier expansion — each round joins only the NEW
    frontier against the edge list (visited nodes are anti-joined
    away), so round r shuffles |frontier_r| × avg-degree rows, never
    the whole reachable set again. The classic BFS-as-joins plan; k is
    small and fixed, so the loop unrolls into one DAG."""
    frontier = seeds.select(F.col(seed_col).alias("node_id")).distinct()
    visited = frontier.withColumn("hops", F.lit(0))
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier.node_id == edges.src_id)
            .select(F.col("dst_id").alias("node_id"))
            .distinct()
            .join(visited.select("node_id"), "node_id", "left_anti")
        )
        frontier = nxt
        visited = visited.unionByName(
            nxt.withColumn("hops", F.lit(hop))
        ).localCheckpoint(eager=True)
    return visited


def triangle_counts(
    edges: DataFrame, src_col: str = "src_id", dst_col: str = "dst_id"
) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    simple graph of `edges` (self-loops dropped, multi-edges and
    direction collapsed): (node_id, triangles), nodes in ≥1 triangle.

    Degree-ordered orientation — each undirected edge is directed from
    its (degree, id)-smaller endpoint to the larger — so every triangle
    is enumerated exactly once as a wedge at its smallest vertex, and
    the wedge join fans out by MIN degree: total wedge rows are
    Σ_v min_deg_oriented(v)² = O(m^1.5) regardless of hub nodes (a
    degree-10⁶ hub contributes nothing to the fanout because its edges
    all point INTO it). Three key-partitioned shuffles (dedup, degree,
    wedge/close joins); no cross join anywhere.
    """
    und = (
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .distinct()
        # the oriented edge list is read three times below (two wedge
        # sides + the closing probe); checkpoint the deduped edges so
        # the upstream lineage (often a full build_edges chain) runs
        # once instead of three times
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = und.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    o = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    )
    e1 = o.select("s", F.col("t").alias("a"), F.col("dt").alias("da"))
    e2 = o.select("s", F.col("t").alias("b"), F.col("dt").alias("db"))
    wedges = e1.join(e2, "s").where(
        F.struct("da", "a") < F.struct("db", "b")
    )
    tri = wedges.join(
        o.select(F.col("s").alias("a"), F.col("t").alias("b")), ["a", "b"]
    ).select("s", "a", "b")
    return (
        tri.select(F.explode(F.array("s", "a", "b")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    damping_pct: int = 85,
    scale: int | str = 10**12,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """PageRank over the directed simple graph of `edges`, in
    fixed-point integer arithmetic: (node_id, rank_int, rank) where
    rank = rank_int / scale and the initial mass is `scale` per node.

    Why integers: float PageRank sums contributions in whatever order
    the engine's partial aggregation chooses — results differ at the
    ulp level between runs/engines. Here every step is int64
    (contribution = rank DIV out_degree; update =
    (100-d)·scale + d·Σ, all DIV 100), so sums are order-independent
    and the ranks are bit-identical anywhere — including the unrolled
    SQL oracle (gate.kg_pagerank). Precision cost ≤ out_degree
    round-down units of 1/scale per node per round.

    Semantics: by default the simplified large-scale variant —
    dangling-node mass is dropped, not redistributed (totals shrink;
    relative order is what downstream consumers use). With
    `redistribute_dangling=True` the standard formulation: each round,
    the mass parked on out-degree-0 nodes is shared equally (integer
    DIV — each node receives dangling_mass DIV N extra incoming before
    damping), keeping totals ~conserved and staying bit-exact. The
    per-round dangling mass is a 1-row aggregate broadcast back into
    the update (no data-scale driver traffic; only N, a scalar, is
    collected once). Overflow bound: d·Σ ≤ 85 · N ·
    scale must stay under 2^63 → N ≤ ~10^5 at the default scale; lower
    `scale` for bigger graphs (10^9 supports N ≈ 10^8), or pass
    scale="auto" to derive it from the node count: scale =
    max(10^4, 2^62 // (100·N)) keeps 85·N·scale < 2^63 with ≥10^4
    fixed-point precision up to N ≈ 4.6·10^14 nodes — the whole
    10^12-file regime. Auto mode costs one count() (a scalar) and is
    bit-reproducible for a given graph.

    Each iteration is one key-partitioned join (ranks onto edge
    sources) + one aggregation (incoming sums) — the canonical
    BSP-as-DataFrame plan; no driver-side data, no floats until the
    final cosmetic division.
    """
    if scale != "auto" and type(scale) is not int:
        # without this, a stray string flows into (100-d)*scale as
        # Python string repetition and dies in SQL analysis later;
        # `type(...) is int` (not isinstance) so scale=True is rejected
        # instead of silently running as scale=1
        raise ValueError(
            f"pagerank: scale must be an int or the literal 'auto', got {scale!r}"
        )
    e = (
        edges.where(F.col(src_col) != F.col(dst_col))
        .select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionAll(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if scale == "auto":
        n_total = nodes.count()
        scale = max(10**4, (2**62) // (100 * max(n_total, 1)))
    base = (100 - damping_pct) * scale
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    ranks = nodes.withColumn("rank_int", F.lit(scale).cast("long"))
    if redistribute_dangling:
        dangling = nodes.join(
            out_deg.select(F.col("src").alias("node_id")), "node_id", "left_anti"
        ).localCheckpoint(eager=True)
        n_nodes = nodes.count()  # scalar, stable across rounds
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node_id)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node_id"),
                F.expr("rank_int DIV odeg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node_id").agg(F.sum("c").alias("s"))
        upd = nodes.join(incoming, "node_id", "left")
        if redistribute_dangling:
            share = (
                ranks.join(dangling, "node_id")
                .agg(
                    F.expr(
                        "coalesce(sum(rank_int), CAST(0 AS BIGINT))"
                        f" DIV {n_nodes}"
                    ).alias("_share")
                )
            )
            upd = upd.crossJoin(F.broadcast(share))
            inc_expr = "coalesce(s, CAST(0 AS BIGINT)) + _share"
        else:
            inc_expr = "coalesce(s, CAST(0 AS BIGINT))"
        ranks = (
            upd.select(
                "node_id",
                F.expr(
                    f"(CAST({base} AS BIGINT) + {damping_pct}"
                    f" * ({inc_expr})) DIV 100"
                ).alias("rank_int"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node_id",
        "rank_int",
        (F.col("rank_int") / F.lit(float(scale))).alias("rank"),
    )
