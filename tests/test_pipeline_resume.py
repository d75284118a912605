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


def test_catalog_compaction_preserves_union_view(spark, tmp_path):
    """compact() folds N snapshots into one with a row-identical union
    read-view, a single surviving snapshot, and audited manifest rows."""
    from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
        KGPipeline,
    )
    from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    cat = ParquetCatalog(str(tmp_path / "cat"), spark)
    for lo, hi in ((0, 5), (5, 8), (8, 13)):
        cat.write(spark.range(lo, hi).toDF("id"), "t", stage="t")
    before = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    info = cat.compact("t")
    assert cat.snapshots("t") == [info.snapshot_id]
    after = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert after == before == list(range(13))
    statuses = [m["status"] for m in cat.manifest() if m["stage"] == "t"]
    assert statuses[-2:] == ["compacting", "compacted"]
    folded = [m for m in cat.manifest() if m["status"] == "compacting"][0]["folded"]
    assert folded == [1, 2, 3]
    # incremental append after compaction keeps working
    cat.write(spark.range(13, 15).toDF("id"), "t", stage="t")
    again = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert again == list(range(15))


def _compaction_state(spark, tmp_path, name):
    cat = ParquetCatalog(str(tmp_path / name), spark)
    for lo, hi in ((0, 5), (5, 8), (8, 13)):
        cat.write(spark.range(lo, hi).toDF("id"), "t", stage="t")
    return cat


def test_compaction_crash_before_rename_is_aborted(spark, tmp_path):
    """Crash window 1: the 'compacting' intent row is on disk but the
    union snapshot was never renamed in. recover() must remove the
    orphan staging dir, audit an abort, and leave the union read-view
    untouched (inputs were never dropped)."""
    import os

    cat = _compaction_state(spark, tmp_path, "c1")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    staging = os.path.join(cat._table_dir("t"), f".staging-{snap}")
    KGPipeline._read_all(cat, "t").write.parquet(staging)
    cat._append_manifest(
        {
            "run_id": "crashed",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": 13,
            "snapshot_id": snap,
            "folded": snaps,
            "wall_sec": 0.0,
            "updated_at": "2026-01-01T00:00:00Z",
        }
    )
    assert cat.recover("t") == "aborted"
    assert not os.path.exists(staging)
    assert cat.snapshots("t") == snaps  # inputs intact
    assert sorted(r.id for r in KGPipeline._read_all(cat, "t").collect()) == list(
        range(13)
    )
    assert cat.recover("t") is None  # idempotent


def test_compaction_crash_after_rename_completes_drops(spark, tmp_path):
    """Crash window 2: the union snapshot committed but the folded
    inputs were not dropped — a naive union view would return every
    row TWICE. recover() (called by _read_all) completes the drops, so
    the read-view stays row-identical."""
    import os

    cat = _compaction_state(spark, tmp_path, "c2")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    final = os.path.join(cat._table_dir("t"), f"snapshot={snap}")
    KGPipeline._read_all(cat, "t").write.parquet(final)
    # current compact() always stamps the commit token before the
    # intent row — simulate ITS crash window, token and all (the
    # legacy tokenless windows have their own tests below)
    token = "feedface" * 4
    with open(
        os.path.join(final, ".compaction_token"), "w", encoding="utf-8"
    ) as f:
        f.write(token)
    cat._append_manifest(
        {
            "run_id": "crashed",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": 13,
            "snapshot_id": snap,
            "folded": snaps,
            "token": token,
            "wall_sec": 0.0,
            "updated_at": "2026-01-01T00:00:00Z",
        }
    )
    # raw union without recovery WOULD double-count
    assert cat.snapshots("t") == snaps + [snap]
    # _read_all recovers first: folded inputs dropped, rows exact
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(13))
    assert cat.snapshots("t") == [snap]
    statuses = [m["status"] for m in cat.manifest() if m["stage"] == "t"]
    assert statuses[-1] == "compacted"
    assert [m for m in cat.manifest() if m.get("recovered")]


def test_write_after_crashed_compaction_does_not_lose_corpus(spark, tmp_path):
    """Snapshot-id reuse hazard (round-4 ADVICE, high): compact()
    allocates latest+1, so a crash BEFORE its rename leaves the
    snapshot list unchanged and the next incremental write() would
    allocate the exact id the dead compaction intended. write() must
    recover the stale intent first so a later recover() can never
    mistake the delta snapshot for the committed compaction and drop
    the whole prior corpus."""
    import os

    cat = _compaction_state(spark, tmp_path, "c3")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    staging = os.path.join(cat._table_dir("t"), f".staging-{snap}")
    KGPipeline._read_all(cat, "t").write.parquet(staging)
    cat._append_manifest(
        {
            "run_id": "crashed",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": 13,
            "snapshot_id": snap,
            "folded": snaps,
            "wall_sec": 0.0,
            "updated_at": "2026-01-01T00:00:00Z",
        }
    )
    # the resumed pipeline appends a delta — its write() retires the
    # stale intent BEFORE reusing the snapshot id
    cat.write(spark.range(13, 15).toDF("id"), "t", stage="t")
    assert cat.snapshots("t") == snaps + [snap]  # delta got the reused id
    # every later recover is a no-op: nothing pending, nothing dropped
    assert cat.recover("t") is None
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(15))
    statuses = [m["status"] for m in cat.manifest() if m["stage"] == "t"]
    assert "compaction_aborted" in statuses


def test_recover_token_rejects_id_reusing_snapshot(spark, tmp_path):
    """Defense in depth: even if a snapshot dir with the intended id
    appears WITHOUT write()'s up-front recovery (e.g. an external
    writer), recover() must not treat it as the committed compaction —
    the commit token is absent — and must leave both the prior inputs
    and the unrelated snapshot untouched."""
    import os

    cat = _compaction_state(spark, tmp_path, "c4")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    staging = os.path.join(cat._table_dir("t"), f".staging-{snap}")
    KGPipeline._read_all(cat, "t").write.parquet(staging)
    cat._append_manifest(
        {
            "run_id": "crashed",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": 13,
            "snapshot_id": snap,
            "folded": snaps,
            "token": "deadbeef" * 4,
            "wall_sec": 0.0,
            "updated_at": "2026-01-01T00:00:00Z",
        }
    )
    # an unrelated delta lands on the intended id, no token file inside
    final = os.path.join(cat._table_dir("t"), f"snapshot={snap}")
    spark.range(13, 15).toDF("id").write.parquet(final)
    assert cat.recover("t") == "aborted"
    assert cat.snapshots("t") == snaps + [snap]  # nothing destroyed
    assert not os.path.exists(staging)  # only the orphan staging went
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(15))


def test_recover_grace_window_spares_in_flight_compaction(spark, tmp_path):
    """A reader auto-recovering mid-read must not abort a compaction
    whose intent row is fresh (possibly still in flight in the single
    driver): grace_sec skips young intents in the abort window only."""
    import os
    import time as _time

    cat = _compaction_state(spark, tmp_path, "c5")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    staging = os.path.join(cat._table_dir("t"), f".staging-{snap}")
    KGPipeline._read_all(cat, "t").write.parquet(staging)
    cat._append_manifest(
        {
            "run_id": "local",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": 13,
            "snapshot_id": snap,
            "folded": snaps,
            "token": "cafef00d" * 4,
            "wall_sec": 0.0,
            "updated_at": _time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
            ),
        }
    )
    # fresh intent + grace → left alone, staging survives, read correct
    assert cat.recover("t", grace_sec=300.0) is None
    assert os.path.exists(staging)
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(13))
    # explicit recovery (restart path, grace 0) still aborts it
    assert cat.recover("t") == "aborted"
    assert not os.path.exists(staging)


def test_compaction_token_round_trip(spark, tmp_path):
    """A real compact() stamps the token into the committed snapshot
    and records it in the intent row; recover() is then a no-op and
    the token file is invisible to parquet readers."""
    import os

    cat = _compaction_state(spark, tmp_path, "c6")
    info = cat.compact("t")
    final = os.path.join(cat._table_dir("t"), f"snapshot={info.snapshot_id}")
    intent = [m for m in cat.manifest() if m["status"] == "compacting"][-1]
    with open(os.path.join(final, ".compaction_token"), encoding="utf-8") as f:
        assert f.read().strip() == intent["token"]
    assert cat.recover("t") is None
    assert cat.read("t").count() == 13  # dot-file ignored by the reader


def _pretoken_intent(cat, snaps, snap, rows_out=13):
    """Append a legacy 'compacting' intent row WITHOUT a token field,
    as pre-token code wrote them."""
    cat._append_manifest(
        {
            "run_id": "crashed",
            "stage": "t",
            "status": "compacting",
            "rows_in": len(snaps),
            "rows_out": rows_out,
            "snapshot_id": snap,
            "folded": snaps,
            "wall_sec": 0.0,
            "updated_at": "2026-01-01T00:00:00Z",
        }
    )


def test_recover_pretoken_all_inputs_intact_is_abort_only(spark, tmp_path):
    """A tokenless (legacy) intent whose folded inputs are ALL still on
    disk is ambiguous: the snapshot dir carrying the intended id could
    be an unrelated write with a coincidentally equal row count.
    recover() must never complete drops on that evidence — inputs and
    the id-bearing snapshot both survive."""
    import os

    cat = _compaction_state(spark, tmp_path, "c7")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    _pretoken_intent(cat, snaps, snap)
    # id-reusing snapshot with EXACTLY the intent's row count, no token
    final = os.path.join(cat._table_dir("t"), f"snapshot={snap}")
    spark.range(100, 113).toDF("id").write.parquet(final)
    assert cat.recover("t") == "aborted"
    assert cat.snapshots("t") == snaps + [snap]  # no input dropped
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(13)) + list(range(100, 113))


def test_recover_pretoken_partial_drops_completes(spark, tmp_path):
    """A tokenless intent where some (but not all) folded inputs are
    already gone can only be a committed compaction crashed mid-drop —
    an id-reusing writer never starts drops. recover() completes the
    remaining drops and the union view stays exact."""
    import os
    import shutil

    cat = _compaction_state(spark, tmp_path, "c8")
    snaps = cat.snapshots("t")
    snap = snaps[-1] + 1
    final = os.path.join(cat._table_dir("t"), f"snapshot={snap}")
    KGPipeline._read_all(cat, "t").write.parquet(final)  # committed union
    _pretoken_intent(cat, snaps, snap)
    # crashed after dropping the first folded input only
    shutil.rmtree(os.path.join(cat._table_dir("t"), f"snapshot={snaps[0]}"))
    assert cat.recover("t") == "completed"
    assert cat.snapshots("t") == [snap]
    got = sorted(r.id for r in KGPipeline._read_all(cat, "t").collect())
    assert got == list(range(13))


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
