"""Checkpoint/resume idempotence (north_rule: a killed job resumes from
the last committed snapshot and produces identical final tables)."""

from pyspark.sql import functions as F

from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
    STAGES,
    KGPipeline,
    PipelineConfig,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
    ParquetCatalog,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
    with_ingest_columns,
)


def _source(spark):
    rows = [
        ("r1", f"f{i}.txt", "c" * 40, "text",
         f"alpha beta gamma delta epsilon zeta eta theta doc{i}. "
         f"iota kappa lambda mu nu xi omicron pi rho doc{i}.")
        for i in range(10)
    ]
    return with_ingest_columns(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
    )


def _edge_set(cat):
    return {
        (r.src_id, r.pred_id, r.dst_id, r.weight)
        for r in cat.read("edges").collect()
    }


def test_kill_and_resume_is_idempotent(spark, tmp_path):
    src = _source(spark)
    cfg = PipelineConfig(chunk_size=60)

    # fresh full run
    cat_full = ParquetCatalog(str(tmp_path / "full"), spark)
    KGPipeline(spark, cat_full, cfg).run(src)

    # killed run: only the first three stages committed
    cat_killed = ParquetCatalog(str(tmp_path / "killed"), spark)
    pipe = KGPipeline(spark, cat_killed, cfg)
    cat_killed.write(src, "source", stage="source")
    cat_killed.write(pipe.stage_chunks(cat_killed.read("source")), "chunks", stage="chunks")
    assert cat_killed.committed_stages() == {"source", "chunks"}

    # resume completes the rest without re-running committed stages
    counts = pipe.run(src, resume=True)
    assert counts["chunks"] == -1  # skipped
    assert _edge_set(cat_killed) == _edge_set(cat_full)
    assert pipe.verify_invariant()


def test_rerun_after_success_is_noop(spark, tmp_path):
    src = _source(spark)
    cat = ParquetCatalog(str(tmp_path / "c"), spark)
    pipe = KGPipeline(spark, cat, PipelineConfig(chunk_size=60))
    pipe.run(src)
    snaps_before = {t: cat.latest_snapshot(t) for t in ("chunks", "edges")}
    counts = pipe.run(src, resume=True)
    assert all(v == -1 for k, v in counts.items() if k != "source")
    assert {t: cat.latest_snapshot(t) for t in ("chunks", "edges")} == snaps_before


def test_manifest_records_counters(spark, tmp_path):
    src = _source(spark)
    cat = ParquetCatalog(str(tmp_path / "m"), spark)
    KGPipeline(spark, cat, PipelineConfig(chunk_size=60)).run(src)
    manifest = cat.manifest()
    stages = [m["stage"] for m in manifest]
    for s in ("source", "chunks", "raw_responses", "triples_raw", "edges"):
        assert s in stages
    assert all(m["rows_out"] >= 0 and m["status"] == "committed" for m in manifest)
    assert all(m["wall_sec"] >= 0 for m in manifest)


def test_atomic_commit_no_partial_reads(spark, tmp_path):
    cat = ParquetCatalog(str(tmp_path / "a"), spark)
    df = spark.range(100).select(F.col("id"))
    cat.write(df, "t", stage="t")
    cat.write(df.where("id < 50"), "t", stage="t")
    assert cat.snapshots("t") == [1, 2]
    assert cat.read("t").count() == 50          # latest snapshot
    assert cat.read("t", snapshot=1).count() == 100  # time travel


def _jobs_during(spark, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"catalog-read-{id(fn)}"
    sc.setJobGroup(group, "catalog read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_read_uses_footer_schema_without_a_job(spark, tmp_path):
    """read() takes each snapshot's schema from the Spark row metadata
    in its parquet footer: the same schema spark.read.parquet infers,
    and no inference job."""
    import os

    cat = ParquetCatalog(str(tmp_path / "cat"), spark)
    KGPipeline(spark, cat, PipelineConfig(chunk_size=60)).run(_source(spark))
    tables = ["source", *STAGES]
    assert all(cat.exists(t) for t in tables)
    for t in tables:
        df, jobs = _jobs_during(spark, lambda: cat.read(t))
        assert jobs == [], t
        path = os.path.join(cat.root, t, f"snapshot={cat.latest_snapshot(t)}")
        inferred = spark.read.parquet(path)
        assert df.schema == inferred.schema, t
        assert df.columns == inferred.columns, t


def test_catalog_read_falls_back_to_inference_without_spark_metadata(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cat = ParquetCatalog(str(tmp_path / "cat"), spark)
    snap = os.path.join(cat.root, "ext", "snapshot=1")
    os.makedirs(snap)
    pq.write_table(
        pa.table({"k": ["a", "b"], "v": pa.array([1, 2], pa.int32())}),
        os.path.join(snap, "part-0.parquet"),
    )
    footer = pq.read_schema(os.path.join(snap, "part-0.parquet")).metadata or {}
    assert b"org.apache.spark.sql.parquet.row.metadata" not in footer
    df = cat.read("ext")
    assert df.schema == spark.read.parquet(snap).schema
    assert sorted(map(tuple, df.collect())) == [("a", 1), ("b", 2)]
