"""A tiny traced build op and a tiny traced evaluate op on Spark:
every listed layer gets a span, and corrupted outputs fail their check."""

import pytest

from perfbench import checks, trace, workloads

TINY = {
    "build": {"docs": 40, "entities": 200, "properties": 20},
    "evaluate": {"generated": 40, "ground_truth": 12, "entities": 200,
                 "properties": 20},
}


@pytest.fixture(scope="module")
def traced(spark, tmp_path_factory):
    rec = trace.Recorder(spark.sparkContext)
    rec.install()
    try:
        b = workloads.Build(spark, str(tmp_path_factory.mktemp("b")), 3, TINY["build"])
        b.setup()
        e = workloads.Evaluate(spark, str(tmp_path_factory.mktemp("e")), 3,
                               TINY["evaluate"])
        e.setup()
        for k, wl in enumerate((b, e)):
            rec.op, rec.enabled = k, True
            wl.run(k, rec)
            rec.enabled = False
            rec.collect_tasks(k)
    finally:
        rec.uninstall()
    yield rec, b, e
    b.cleanup(0)


def test_every_layer_gets_a_span_with_tasks(traced):
    rec, b, _ = traced
    assert {s.layer for s in rec.spans} == set(trace.LAYERS)
    writes = [s for s in rec.spans if s.name == "catalog.write"]
    assert {s.info["stage"] for s in writes} == set(trace.STAGE_LAYER)
    assert all(s.tasks > 0 and s.min_stage_tasks > 0 for s in writes)
    assert all(s.tasks > 0 for s in rec.spans if s.layer == "metrics")
    build = [s for s in rec.spans if s.op == 0]
    m = trace.layer_metrics(build, cores=2)
    assert 0 < m["pipeline.self_s"] < m["pipeline.busy_s"]
    assert m["catalog.bytes_written"] > 0 and m["linker.rows_out"] > 0
    r = b.layer_ratios(0)
    assert 0 < r["extractor.empty_ratio"] < 0.5
    assert 0.5 < r["parser.accept_ratio"] <= 1.0
    assert 0 < r["linker.link_ratio"] < 1.0
    assert r["canonicalizer.reduction"] > 1.0
    assert 0 < r["graph.edge_ratio"] <= 1.0


def test_outputs_pass_their_checks(traced):
    _, b, e = traced
    assert b.check(0) == ""
    assert e.check(1) == ""


def test_a_dropped_edge_row_fails_the_build_check(traced):
    _, b, _ = traced
    cat = b._pipeline(b._cat_dir(0)).catalog
    good = checks.graph_digests(cat)
    edges = cat.read("edges")
    dropped = edges.exceptAll(edges.limit(1))
    bad = {**good, **checks.table_digests({"edges": dropped})}
    tally = checks.Tally()
    tally.record(checks.check_digests(good, good, None) == "")
    tally.record(checks.check_digests(bad, good, None) == "")
    assert (tally.attempted, tally.failed) == (2, 1)


def test_a_tp_off_by_one_fails_the_evaluate_check(traced, spark):
    _, _, e = traced
    e.run(2, trace.Recorder())
    res = e.results[2]
    assert checks.check_evaluate(res, e.expected, e.exact) == ""
    tp, fp, fn = res["strict"]
    off = {**res, "strict": (tp + 1, fp, fn)}
    assert "strict" in checks.check_evaluate(off, e.expected, e.exact)
