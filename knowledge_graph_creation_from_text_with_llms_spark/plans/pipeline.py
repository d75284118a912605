"""The end-to-end KG construction DAG with checkpoint/resume.

source →(chunk)→ chunks →(extract)→ raw_responses →(parse)→ triples_raw
→(link)→ triples_linked →(canonicalize)→ nodes →(materialize)→
edges / adjacency

Each stage is a DataFrame→DataFrame function that commits one catalog
snapshot plus a manifest row. `run` skips stages whose outputs are
already committed (resume-from-kill idempotence: re-running after a
crash re-executes only uncommitted stages and produces byte-identical
final tables — tested in tests/test_pipeline_resume.py).

The per-row invariant (content sha256 carried from source through every
row-preserving stage) is asserted by `verify_invariant`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import chunker, extractor, parser, linker, canonicalizer, graph
from ..sources.catalog import ParquetCatalog


@dataclass
class PipelineConfig:
    chunk_size: int = 500
    chunk_unit: str = "sentence"
    property_method: str = "exact"  # exact | cos_similarity | mixed
    backend_factory: Callable = extractor.RuleBasedBackend
    edges_partitions: int | None = None
    # S2: run the HTML cleaner (tables/citation-sup removal, <p> join)
    # ahead of chunking — Extractor.py:120-127 order
    clean_html: bool = False
    # P10: cap chunks per document (reference main.py max_chunks)
    max_chunks: int | None = None


STAGES = ("chunks", "raw_responses", "triples_raw", "triples_linked",
          "nodes", "edges", "adjacency")


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: ParquetCatalog,
        config: PipelineConfig | None = None,
        entity_dict: DataFrame | None = None,
        property_dict: DataFrame | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.config = config or PipelineConfig()
        self.entity_dict = entity_dict
        self.property_dict = property_dict

    # -- individual stages -------------------------------------------------
    def stage_chunks(self, source: DataFrame) -> DataFrame:
        if self.config.clean_html:
            from ..operators import htmlclean

            source = htmlclean.clean_documents(source)
        chunks = chunker.chunk_documents(
            source, self.config.chunk_size, self.config.chunk_unit
        )
        if self.config.max_chunks is not None:
            chunks = chunks.where(F.col("chunk_id") <= self.config.max_chunks)
        return chunks

    def stage_responses(self, chunks: DataFrame) -> DataFrame:
        return extractor.extract_responses(chunks, self.config.backend_factory)

    def stage_triples_raw(self, responses: DataFrame) -> DataFrame:
        return parser.parse_responses(responses)

    def stage_triples_linked(self, triples_raw: DataFrame) -> DataFrame:
        if self.entity_dict is None or self.property_dict is None:
            # dictionary-less mode: everything stays a surface form
            return (
                triples_raw.withColumn("subj_id", F.lit(None).cast("string"))
                .withColumn("pred_id", F.lit(None).cast("string"))
                .withColumn("obj_id", F.lit(None).cast("string"))
                .withColumn("is_literal", F.lit(True))
            )
        return linker.link_triples(
            triples_raw,
            self.entity_dict,
            self.property_dict,
            method=self.config.property_method,
        )

    def stage_nodes(self, triples_linked: DataFrame) -> DataFrame:
        mentions = triples_linked.select(
            F.col("subj").alias("label"), "doc_id"
        ).unionAll(
            triples_linked.where(~F.col("is_literal")).select(
                F.col("obj").alias("label"), "doc_id"
            )
        )
        return canonicalizer.salted_mention_counts(mentions, hash_doc_keys=True)

    def stage_edges(self, triples_linked: DataFrame) -> DataFrame:
        return graph.build_edges(triples_linked)

    def stage_adjacency(self, edges: DataFrame) -> DataFrame:
        return graph.build_adjacency(edges)

    # -- orchestration -------------------------------------------------------
    def run(self, source: DataFrame, resume: bool = True) -> dict[str, int]:
        """Run all stages, skipping already-committed ones when
        resume=True. Returns {stage: rows_out}."""
        cat = self.catalog
        done = cat.committed_stages() if resume else set()
        counts: dict[str, int] = {}

        if "source" in done and cat.exists("source"):
            counts["source"] = -1  # skipped (resumed)
        else:
            counts["source"] = cat.write(source, "source", stage="source").rows

        plan = [
            ("chunks", lambda: self.stage_chunks(cat.read("source"))),
            ("raw_responses", lambda: self.stage_responses(cat.read("chunks"))),
            ("triples_raw", lambda: self.stage_triples_raw(cat.read("raw_responses"))),
            ("triples_linked", lambda: self.stage_triples_linked(cat.read("triples_raw"))),
            ("nodes", lambda: self.stage_nodes(cat.read("triples_linked"))),
            ("edges", lambda: self.stage_edges(cat.read("triples_linked"))),
            ("adjacency", lambda: self.stage_adjacency(cat.read("edges"))),
        ]
        for name, thunk in plan:
            if name in done and cat.exists(name):
                counts[name] = -1  # skipped (resumed)
                continue
            df = thunk()
            repart = "src_id" if name == "edges" else None
            counts[name] = cat.write(
                df, name, stage=name,
                repartition_by=repart,
                num_partitions=self.config.edges_partitions,
            ).rows
        return counts

    def run_incremental(self, new_source: DataFrame) -> dict[str, int]:
        """Process only source rows not yet in the catalog and APPEND
        their chunks/responses/triples as new snapshots. The global
        tables then take the cheapest correct path:

        - no changed docs in the delta → edges are SUM-MERGED: prior
          edges snapshot + the delta's own edges (graph.merge_edges),
          reading only those two inputs — never the accumulated
          triples. Byte-identical to a full rebuild because edges is an
          additive aggregate.
        - a delta doc_id that was already ingested with different
          content RETRACTS its old version: the rebuild keeps only each
          doc's latest content (semi-join on the current
          (doc_id, content_sha256) set), so nodes/edges/adjacency
          converge to exactly a from-scratch run over the live corpus.

        Delta detection is an anti-join on (doc_id, content_sha256):
        a re-ingested identical file is skipped; a changed file (same
        path, new content hash) is processed again as a new row. An
        EMPTY delta rolls its snapshot commit back so latest(source)
        keeps pointing at real data (benign no-op rerun).
        """
        cat = self.catalog
        counts: dict[str, int] = {}
        from ..sources.corpus import with_ingest_columns

        if "doc_id" not in new_source.columns:
            new_source = with_ingest_columns(new_source)
        prior_snaps = cat.snapshots("source")
        if prior_snaps:
            # every snapshot, not just the latest — each incremental
            # run appends only its delta, so "seen" is their union
            seen = self._read_all(cat, "source").select(
                "doc_id", "content_sha256"
            )
            delta = new_source.join(
                seen, ["doc_id", "content_sha256"], "left_anti"
            )
        else:
            delta = new_source
        info = cat.write(delta, "source", stage="source")
        counts["source_delta"] = info.rows
        if info.rows == 0:
            cat.drop_snapshot("source", info.snapshot_id)
            return counts

        # per-row stages run on the delta only, appended as snapshots
        delta_src = cat.read("source")  # latest snapshot == the delta
        chunks = self.stage_chunks(delta_src)
        counts["chunks"] = cat.write(chunks, "chunks", stage="chunks").rows
        responses = self.stage_responses(cat.read("chunks"))
        counts["raw_responses"] = cat.write(
            responses, "raw_responses", stage="raw_responses"
        ).rows
        triples = self.stage_triples_raw(cat.read("raw_responses"))
        counts["triples_raw"] = cat.write(
            triples, "triples_raw", stage="triples_raw"
        ).rows
        linked = self.stage_triples_linked(cat.read("triples_raw"))
        counts["triples_linked"] = cat.write(
            linked, "triples_linked", stage="triples_linked"
        ).rows

        # retraction check: a delta doc_id present in an OLDER source
        # snapshot must have arrived with new content (identical pairs
        # were anti-joined away) — its old version is now stale
        changed = 0
        if prior_snaps:
            prior_ids = self._read_all(cat, "source", upto=prior_snaps).select(
                "doc_id"
            )
            changed = delta_src.join(prior_ids, "doc_id", "semi").count()
        counts["retracted_docs"] = changed

        all_linked = self._read_all(cat, "triples_linked")
        if changed:
            # keep only each doc's current content version
            current = self._current_source_pairs(cat)
            all_linked = all_linked.join(
                current, ["doc_id", "content_sha256"], "semi"
            )
        counts["nodes"] = cat.write(
            self.stage_nodes(all_linked), "nodes", stage="nodes"
        ).rows

        prior_edges_snap = cat.latest_snapshot("edges")
        if changed == 0 and prior_edges_snap is not None:
            # mergeable fast path: prior edges + delta edges only
            prior_edges = cat.read("edges", snapshot=prior_edges_snap)
            delta_edges = self.stage_edges(cat.read("triples_linked"))
            merged = graph.merge_edges(prior_edges, delta_edges)
            counts["edges"] = cat.write(
                merged, "edges", stage="edges",
                rows_in=cat.snapshot_rows("edges", prior_edges_snap)
                + counts["triples_linked"],
                repartition_by="src_id",
                num_partitions=self.config.edges_partitions,
            ).rows
        else:
            counts["edges"] = cat.write(
                self.stage_edges(all_linked), "edges", stage="edges",
                repartition_by="src_id",
                num_partitions=self.config.edges_partitions,
            ).rows
        counts["adjacency"] = cat.write(
            self.stage_adjacency(cat.read("edges")), "adjacency", stage="adjacency"
        ).rows
        return counts

    @staticmethod
    def _read_all(
        cat: ParquetCatalog, table: str, upto: list[int] | None = None
    ) -> DataFrame:
        """Union of every committed snapshot of a table (incremental
        appends); Iceberg equivalent: plain table read. `upto`
        restricts to an explicit snapshot list (e.g. all snapshots that
        existed before the current delta). Replays any interrupted
        compaction first so the union never double-counts a folded
        snapshot that crashed mid-drop. The 5-minute grace window keeps
        a reader from aborting a compaction that is legitimately IN
        FLIGHT in the single driver (intent row written, rename
        pending): fresh intents are left alone, and the read stays
        correct either way — pre-rename the union sees only the inputs,
        post-rename completion has no grace and the drops are
        idempotent."""
        cat.recover(table, grace_sec=300.0)
        snaps = upto if upto is not None else cat.snapshots(table)
        dfs = [cat.read(table, snapshot=s) for s in snaps]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    @staticmethod
    def _current_source_pairs(cat: ParquetCatalog) -> DataFrame:
        """(doc_id, content_sha256) of each doc's LATEST ingested
        version — the live corpus after retractions. A doc appears in
        exactly one snapshot per content version (delta anti-join), so
        max_by over the snapshot id picks the current one."""
        parts = [
            cat.read("source", snapshot=s)
            .select("doc_id", "content_sha256")
            .withColumn("_snap", F.lit(s))
            for s in cat.snapshots("source")
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.groupBy("doc_id").agg(
            F.max_by("content_sha256", "_snap").alias("content_sha256")
        )

    # -- invariants ------------------------------------------------------------
    def verify_invariant(self) -> bool:
        """content_sha256 carried through chunk/extract/parse stages
        traces back to committed source content (per doc_id). Compares
        against the union of ALL source snapshots so incremental
        catalogs — where the latest snapshot holds only the newest
        delta — validate their per-row delta snapshots too."""
        cat = self.catalog
        src = (
            self._read_all(cat, "source")
            .select("doc_id", "content_sha256")
            .distinct()
        )
        for t in ("chunks", "raw_responses", "triples_raw"):
            got = cat.read(t).select("doc_id", "content_sha256").distinct()
            bad = got.join(src, ["doc_id", "content_sha256"], "left_anti").count()
            if bad:
                return False
        return True
