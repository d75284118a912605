"""Physical-plan shape assertions.

Correctness gates prove the VALUES; these tests pin the PLANS — the
properties that decide whether an operator survives a 100× scale-up.
Each assertion is a named invariant (broadcast where a dictionary is
small, pushdown reaching the scan, no cartesian product on default
paths); a regression here means a silent scale-killer re-entered even
though results still match.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.operators import (
    dedup,
    linker,
    similarity,
    textstats,
)


def _plan(df, execute: bool = False) -> str:
    if execute:
        # AQE leaves join strategy undecided until runtime
        # (isFinalPlan=false); run THIS df's own QueryExecution so the
        # final plan is real (a write would spawn a separate QE)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=60):
    return spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta common tokens here") for i in range(n)],
        "doc_id long, text string",
    )


def test_linker_uses_broadcast_join_not_shuffle_join(spark):
    """Dictionary lookups must broadcast the dictionary: a sort-merge
    join would shuffle the full fact table on the label key."""
    docs = _docs(spark)
    tr = docs.select(
        "doc_id",
        F.concat(F.lit("w"), (F.col("doc_id") % 7).cast("string")).alias("subj"),
        F.lit("precedes").alias("pred"),
        F.concat(F.lit("w"), (F.col("doc_id") % 5).cast("string")).alias("obj"),
        F.lit(1).cast("long").alias("weight"),
    )
    ed = spark.createDataFrame(
        [(f"Q{i}", f"w{i}", f"w{i}", 0) for i in range(7)],
        "entity_id string, label string, alias string, rank int",
    )
    plan = _plan(linker.link_labels(tr, ed, "subj", "subj_id"), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_brute_force_has_no_cartesian_product(spark):
    """The query side is broadcast — the scored plan must be a
    BroadcastNestedLoopJoin over the streamed candidates, never a
    CartesianProduct (which would shuffle both sides)."""
    v = np.random.default_rng(5).normal(size=(40, 4)).astype(np.float32)
    cands = spark.createDataFrame(
        [(i, v[i].tolist()) for i in range(40)], "vec_id long, embedding array<float>"
    )
    qs = spark.createDataFrame(
        [(0, v[0].tolist())], "q_id long, q_emb array<float>"
    )
    plan = _plan(similarity.brute_force_topk(qs, cands, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_default_paths_have_no_cartesian_product(spark):
    docs = _docs(spark)
    for df in (
        dedup.minhash_lsh_pairs(docs),
        dedup.embedding_neardup_pairs(
            spark.createDataFrame(
                [(1, [0.1, 0.2]), (2, [0.1, 0.2])],
                "vec_id long, embedding array<float>",
            )
        ),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan


def test_map_only_operators_have_no_exchange(spark):
    """language_id / quality / token_counts / corpus_filter are pure
    projections: any Exchange in their plan is a regression."""
    docs = _docs(spark)
    for fn in (
        textstats.language_id,
        textstats.quality_scores,
        textstats.token_counts,
    ):
        plan = _plan(fn(docs))
        assert "Exchange" not in plan, fn.__name__


def test_parquet_scan_prunes_columns_and_pushes_filters(spark, tmp_path):
    """Reading 2 of 5 columns with a predicate must reach the scan as
    ReadSchema with only those columns and a PushedFilters entry."""
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"t{i}", "en", "web", i * 10) for i in range(100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("doc_id") > 50)
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,50)]" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_whole_stage_codegen_covers_scalar_pipeline(spark):
    """The scalar-function families must stay inside whole-stage
    codegen (no Python evaluation nodes)."""
    docs = _docs(spark)
    plan = _plan(textstats.quality_scores(docs))
    # "*(n)" prefixes mark whole-stage-codegen stages in this string form
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_capped_counts_before_collect(spark):
    """The bucket cap must bound the collect_list AGGREGATION BUFFER,
    not just downstream pair expansion: physically, a window count over
    the (band_id, band_key) shuffle + a filter sit below the
    collect_list aggregate, so a 10^6-doc boilerplate bucket never
    materializes a 10^6-element array row (WindowExec buffers its
    group spillably, and the filter drops the hot bucket's rows before
    the agg). The whole thing rides ONE band-key exchange: the window
    establishes the partitioning and the groupBy reuses it — the
    expensive minhash-signature map is computed exactly once."""
    import re

    docs = _docs(spark)
    # the candidate stage is checkpointed inside minhash_lsh_pairs (it
    # feeds both the verify join and the candidate-id prune), so pin
    # its shape on the lazy candidate plan the operator materializes
    bands = dedup.minhash_band_keys(docs)
    df = dedup._minhash_candidates(bands, 50)
    plan = _plan(df, execute=True)
    lines = plan.splitlines()
    collect_at = next(
        i for i, l in enumerate(lines) if "collect_list" in l
    )
    window_below = any(
        "Window" in l and "count(1)" in l for l in lines[collect_at:]
    )
    assert window_below, "window bucket count must be a child of the collect_list agg"
    # AQE's string form repeats the plan ("== Final Plan ==" then
    # "== Initial Plan =="); count exchanges in the final section only
    final_section = plan.split("== Initial Plan ==")[0]
    assert len(
        re.findall(r"Exchange hashpartitioning\(band_id", final_section)
    ) == 1, "bands must shuffle exactly once on (band_id, band_key)"
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_pass_window_not_range_join(spark):
    """The as-of join must stay a union + key-partitioned window (each
    row shuffled once) — never a range/theta join, whose cross-product
    per key would explode on hot keys at scale."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import events

    left = spark.createDataFrame(
        [(i, i % 5, i * 10) for i in range(100)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(i % 5, i * 7, i) for i in range(40)],
        "user_id long, ts long, state long",
    )
    df = events.asof_join(left, right, ["user_id"], "ts")
    plan = _plan(df, execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # not a join at all: a window
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_incremental_dedup_paths_have_no_cartesian_product(spark):
    """The incremental probes (minhash, n-gram, embedding) must stay
    key-partitioned joins against their snapshot indexes — a
    cross product on any default path is a scale-killer regression."""
    docs = _docs(spark)
    prior = docs.where(F.col("doc_id") % 3 != 0)
    delta = docs.where(F.col("doc_id") % 3 == 0)

    prior_bands, prior_sh = dedup.minhash_index(prior)
    mh, _, _ = dedup.minhash_lsh_pairs_incremental(delta, prior_bands, prior_sh)
    assert "CartesianProduct" not in _plan(mh, execute=True)

    docs_b = docs.withColumn("source", F.lit("s"))
    posting, shingles, dfreq = dedup.ngram_index(
        docs_b.where(F.col("doc_id") % 3 != 0), "source"
    )
    ng, _, _, _ = dedup.ngram_jaccard_pairs_incremental(
        docs_b.where(F.col("doc_id") % 3 == 0), posting, shingles, dfreq, "source"
    )
    assert "CartesianProduct" not in _plan(ng, execute=True)

    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[(F.col("doc_id") % (i + 2)).cast("double") - 0.5 for i in range(4)]).alias(
            "embedding"
        ),
    )
    idx = dedup.embedding_index(vecs.where(F.col("vec_id") % 3 != 0), auto_block_bits=4)
    em, _ = dedup.embedding_neardup_pairs_incremental(
        vecs.where(F.col("vec_id") % 3 == 0), idx, threshold=0.5, auto_block_bits=4
    )
    assert "CartesianProduct" not in _plan(em, execute=True)


def test_canonicalizer_two_scan_has_no_materialization(spark):
    """The counts and aliases paths each re-scan the cheap codegen
    mention map and shuffle only what they need; nothing is
    materialized. A single-scan form that checkpointed the shared
    (key, surface, doc) aggregation measured slower at the 800k-doc
    campaign scale (BENCH/BASELINE.md). The plan must contain neither
    a checkpoint scan (Scan ExistingRDD) nor a persist scan
    (InMemoryTableScan)."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import (
        canonicalizer,
    )

    # spark.range input: a createDataFrame source would itself plan as
    # Scan ExistingRDD and mask the checkpoint-scan assertion
    mentions = spark.range(60).select(
        F.concat(F.lit("Entity "), (F.col("id") % 7).cast("string")).alias(
            "label"
        ),
        F.col("id").alias("doc_id"),
    )
    two_scan = _plan(
        canonicalizer.salted_mention_counts(mentions), execute=True
    )
    assert "Scan ExistingRDD" not in two_scan
    assert "InMemoryTableScan" not in two_scan


def test_pipeline_text_path_engine_plans(spark, tmp_path):
    """Plan contract on the chunk → extract → parse chain: Arrow-
    vectorized python stages only (a pandas-UDF chunker and a
    mapInPandas extractor) and NEVER a row-at-a-time BatchEvalPython
    node. JVM expression twins of both stages measured 3.7-3.9x
    slower on extraction (BENCH/engine_ab.jsonl) and were deleted."""
    from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    src = spark.createDataFrame(
        [("d", "r", "p", "c", "t", "Alpha beta gamma. Delta five!", "h")],
        "doc_id string, repo string, path string, commit string, lang string,"
        " content string, content_sha256 string",
    )
    pipe = KGPipeline(spark, ParquetCatalog(str(tmp_path), spark), PipelineConfig())
    triples = pipe.stage_triples_raw(pipe.stage_responses(pipe.stage_chunks(src)))
    default_plan = _plan(triples)
    assert "BatchEvalPython" not in default_plan  # never row-at-a-time
    assert "ArrowEvalPython" in default_plan  # Arrow-batched chunk fold
    assert "MapInPandas" in default_plan  # Arrow-batched extractor


def test_viz_edges_degree_attach_is_join_free(spark):
    """The draw selection's degree attach must be the window-over-one-
    exchange form — no join of any strategy back to the edge list and
    no broadcast-size assumption on the node vocabulary (round-4 form
    shuffle-joined a degree table back twice; round-5 pin)."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import viz

    edges = spark.createDataFrame(
        [("a", "p", "b", 2, False), ("b", "p", "c", 1, False),
         ("a", "q", "lit", 1, True)],
        "src_id string, pred_id string, dst_id string, weight long, is_literal boolean",
    )
    plan = _plan(viz.viz_edges(edges, max_edges=5), execute=True)
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert "TakeOrderedAndProject" in plan  # distributed partial top-k


def _hash_exchange_keys(plan: str) -> list[tuple[str, ...]]:
    """Key columns (expression ids stripped) of every hash-partitioning
    exchange in the final plan of an executed AQE plan string."""
    import re

    final = plan.split("== Initial Plan ==")[0]
    out = []
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final):
        cols = [re.sub(r"#\d+L?$", "", k.strip()) for k in keys.split(",")]
        out.append(tuple(cols[:-1]))  # the last entry is the partition count
    return out


def test_graph_gates_shuffle_once_per_table(spark, sf_tiny):
    """Gate kg_edges (graph.build_edges over the linked bigrams) has
    one corpus-scale exchange, keyed on the edge group (src_id, pred,
    dst_id, is_literal); the subj/obj links are broadcast. Gate
    kg_adjacency (graph.build_adjacency over it) adds exactly one, on
    src_id alone. The other hash exchange is the loader's doc_id
    spread (gate._spread)."""
    from knowledge_graph_creation_from_text_with_llms_spark import gate

    def keys(query):
        found = _hash_exchange_keys(_plan(query(spark, sf_tiny), execute=True))
        assert found.count(("doc_id",)) == 1, found
        return sorted(k for k in found if k != ("doc_id",))

    [edge_key] = keys(gate.kg_edges)
    assert len(edge_key) == 4, edge_key
    assert edge_key[0] == "src_id" and edge_key[2:] == ("dst_id", "is_literal")
    assert keys(gate.kg_adjacency) == sorted([edge_key, ("src_id",)])
