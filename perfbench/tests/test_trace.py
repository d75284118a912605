"""Span self time, /proc sampling and the metric lists (no Spark)."""

import json
import os

from perfbench import gen, run, trace, workloads


def _span(i, parent, start, end, layer="pipeline"):
    return trace.Span(i, f"s{i}", layer, 0, parent, start, end)


def test_self_time_on_a_hand_built_tree():
    spans = [
        _span(0, None, 0.0, 10.0),             # run: 10 s
        _span(1, 0, 1.0, 3.0, "chunker"),      # child 2 s
        _span(2, 0, 2.5, 4.0, "catalog"),      # overlaps child 1 by 0.5 s
        _span(3, 0, 6.0, 9.0, "linker"),       # child 3 s
        _span(4, 3, 6.5, 7.0, "catalog"),      # grandchild: not the run's child
        _span(5, 0, 9.5, 12.0, "graph"),       # runs past the parent's end
    ]
    selfs = trace.self_times(spans)
    # covered by children: [1, 4] + [6, 9] + [9.5, 10] = 6.5 s
    assert abs(selfs[0] - 3.5) < 1e-9
    assert abs(selfs[3] - 2.5) < 1e-9
    assert selfs[1] == 2.0 and selfs[4] == 0.5
    m = trace.layer_metrics(spans)
    assert abs(m["pipeline.self_s"] - 3.5) < 1e-9
    assert m["pipeline.busy_s"] == 10.0
    assert m["metrics.busy_s"] == 0.0 and m["metrics.cpu_util"] == 0.0
    assert "catalog.busy_s" not in m and m["catalog.read_s"] == 2.0


def test_proc_tree_includes_children_and_counts_cpu():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in trace.tree_pids()
        assert os.getpid() in trace.tree_pids()
    finally:
        child.kill()
        child.wait(timeout=10)
    cpu0 = trace.tree_cpu_s()
    sum(i * i for i in range(3_000_000))
    assert trace.tree_cpu_s() > cpu0
    assert sum(trace.tree_peak_rss_by_process().values()) > 1.0


def test_benchmark_json_lists_every_metric_the_runner_reports():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == {n: run.per_layer_unit(n) for n in run.per_layer_names()}
    assert {w["name"] for w in spec["workloads"]} == {"build", "evaluate"}


def test_spec_json_matches_the_code():
    spec = workloads.spec()
    assert spec["default_seed"] == gen.DEFAULT_SEED
    assert set(spec["input_digests"]) == set(workloads.WORKLOADS)
    assert set(spec["digests"]["build"]) == {"nodes", "edges", "adjacency"}
    moved = {m for row in spec["layer_map"] for m in row["moves"]}
    assert {m.split()[0] for m in moved} <= set(run.END_TO_END_UNITS)
    named = {m.split()[0] for row in spec["layer_map"] for m in row["layer_metrics"]
             if "." in m.split()[0]}
    assert named <= set(run.per_layer_names())
