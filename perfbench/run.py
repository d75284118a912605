"""KG benchmark runner.

    python3 perfbench/run.py --workload build --seed 7 --seconds 20 --trace 0

Runs one workload (build | evaluate) in one driver process on
Spark local[4]: set up, one cold op, then measured ops for about
--seconds (a count fixed by --seconds and the workload's NOMINAL_OP_S,
at least MIN_MEASURED), so every run times the same op indices. Every
op's output is checked.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(measured ops then alternate untraced and traced, and the spans are
written to .perfbench_out/). A readable summary goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_MEASURED = 3
# Ops keep getting faster for many ops after the cold one (JIT), longer
# than a run can afford to wait, so there is no warm-up phase: the
# measured ops are ops 1..n in every run, at the same place on that
# curve. n = --seconds / NOMINAL_OP_S (nominal warm op time).
NOMINAL_OP_S = {"build": 6.5, "evaluate": 9.0}
TIME_LIMIT_S = 150.0    # stop measuring early rather than overrun 180 s

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_s": "s",
    "triples_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric in ("cpu_util", "reduction", "trace_overhead") or metric.endswith("_ratio"):
        return "ratio"
    if metric == "bytes_written":
        return "B"
    return "count"


def per_layer_names() -> list[str]:
    from perfbench import trace

    names = []
    for layer in trace.LAYERS:
        names += [f"{layer}.{m}" for m in
                  ("busy_s", "cpu_util", "tasks", "min_stage_tasks", "rows_out")]
    names.remove("catalog.busy_s")  # reported as catalog.read_s
    names += ["extractor.empty_ratio", "parser.accept_ratio", "linker.link_ratio",
              "canonicalizer.reduction", "graph.edge_ratio",
              "catalog.bytes_written", "catalog.read_s", "pipeline.self_s"]
    names += [f"metrics.{fn}.busy_s" for fn in trace.METRIC_FNS]
    names += ["metrics.rouge.min_stage_tasks", "metrics.rouge.pairs",
              "perfbench.trace_overhead"]
    return names


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "evaluate"))
    p.add_argument("--seed", type=int, default=None,
                   help="input seed (default: gen.DEFAULT_SEED)")
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package and the LLM stand-in from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import knowledge_graph_creation_from_text_with_llms_spark  # noqa: F401
    except ImportError as e:
        _remove(work)
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import checks, gen, trace, workloads

    seed = gen.DEFAULT_SEED if args.seed is None else args.seed
    spark = workloads.session(work)
    jvm = spark.sparkContext._gateway.proc
    try:
        return _bench(args, seed, spark, work, checks, trace, workloads)
    finally:
        spark.stop()  # also stops the Python worker daemon
        jvm.stdin.close()  # the gateway JVM exits on EOF; wait for it
        jvm.wait(timeout=60)
        _remove(work)


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def _bench(args, seed, spark, work, checks, trace, workloads) -> int:
    session_s = time.perf_counter() - T_START
    wl = workloads.WORKLOADS[args.workload](spark, work, seed)
    wl.setup()
    setup_s = time.perf_counter() - T_START

    rec = trace.Recorder(spark.sparkContext)
    if args.trace:
        rec.install()
    tally = checks.Tally()
    layer_runs: list[dict] = []
    check_s: list[float] = []

    def op(k: int, traced: bool) -> tuple[float, int]:
        rec.op, rec.enabled = k, traced
        t0 = time.perf_counter()
        try:
            work_count, why = wl.run(k, rec), ""
        except Exception as e:  # an op that raises counts as failed
            work_count, why = 0, f"op raised {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        rec.enabled = False
        t1 = time.perf_counter()
        if not why:
            try:
                why = wl.check(k)
            except Exception as e:  # so does a check that cannot run
                why = f"check raised {type(e).__name__}: {e}"
        check_s.append(time.perf_counter() - t1)
        if traced and not why:
            spans = [s for s in rec.spans if s.op == k]
            rec.collect_tasks(k)
            layer_runs.append({**trace.layer_metrics(spans, workloads.CORES),
                               **wl.layer_ratios(k)})
        wl.cleanup(k)
        tally.record(not why, f"op {k}: {why}")
        return dt, work_count

    cold_op_s, _ = op(0, False)
    k = 1
    n_measured = max(MIN_MEASURED, round(args.seconds / NOMINAL_OP_S[args.workload]))
    # a traced run interleaves a traced op after each untraced one
    n_traced = n_measured - 1 if args.trace else 0
    times, works, traced_times = [], [], []
    while len(times) < n_measured or len(traced_times) < n_traced:
        if time.perf_counter() - T_START > TIME_LIMIT_S and len(times) >= 1:
            break
        traced = len(traced_times) < n_traced and len(times) > len(traced_times)
        dt, work_count = op(k, traced)
        k += 1
        if traced:
            traced_times.append(dt)
        else:
            times.append(dt)
            works.append(work_count)
    rss = trace.tree_peak_rss_by_process()

    op_s = statistics.median(times)
    e2e = {
        "setup_s": setup_s,
        "cold_op_s": cold_op_s,
        "op_s": op_s,
        "triples_per_s": statistics.median(works) / op_s,
        "peak_rss_mb": sum(rss.values()),
    }
    summary = {
        "workload": args.workload, "seed": seed, "sizes": wl.sizes,
        "input_digest": wl.input_digest, "session_s": session_s,
        "check_s": check_s,
        "measured_ops": len(times), "op_times_s": times,
        "op_fail_ratio": tally.fail_ratio, "failures": tally.reasons,
        "peak_rss_mb_by_process": rss,
        **{f"{n} [{u}]": e2e[n] for n, u in END_TO_END_UNITS.items()},
    }
    if args.workload == "evaluate":
        summary["pairs_per_s"] = wl.n_pairs / op_s
    else:
        summary["graph_digests"] = wl.first
    if args.trace:
        layer = {n: statistics.median(r.get(n, 0.0) for r in layer_runs) if layer_runs
                 else 0.0 for n in per_layer_names()}
        layer["perfbench.trace_overhead"] = (
            statistics.median(traced_times) / op_s if traced_times else 0.0)
        summary["traced_op_times_s"] = traced_times
        summary["trace_overhead"] = layer["perfbench.trace_overhead"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{seed}.json")
        rec.dump(path, {"summary": summary, "layer_metrics": layer})
        summary["trace_file"] = path
        metrics = {n: {"value": layer[n], "unit": per_layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
    print("perfbench summary " + json.dumps(summary, default=str), file=sys.stderr)
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
