"""Span recorder and /proc sampling for the KG benchmark.

Spans are recorded from outside the package: the recorder wraps the
public entry points (`KGPipeline.run`, `ParquetCatalog.write` /
`read`) in this process, and the benchmark's
own op code opens spans around its calls into `operators.metrics`.
Each span carries name, layer, start, end, parent and op id, plus:

- Spark task counts: every span runs its jobs under its own job
  group, and `statusTracker()` maps the group to jobs, stages and
  completed tasks (queried once the op has finished, so the listener
  bus has caught up);
- CPU seconds of the whole process tree (this Python driver, the
  JVM, the Python workers) read from /proc at span start and end.

Operators are lazy, so a stage's compute lands in the
`ParquetCatalog.write` that commits it; that span is credited to the
stage's layer through its `stage` argument (STAGE_LAYER).
Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_LAYER = {
    "source": "corpus",
    "chunks": "chunker",
    "raw_responses": "extractor",
    "triples_raw": "parser",
    "triples_linked": "linker",
    "nodes": "canonicalizer",
    "edges": "graph",
    "adjacency": "graph",
}
LAYERS = (
    "corpus", "chunker", "extractor", "parser", "linker", "canonicalizer",
    "graph", "catalog", "pipeline", "metrics",
)
METRIC_FNS = ("strict", "component", "relaxed", "rouge", "bertscore")
_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc -----------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat.rsplit(")", 1)[1].split()
        # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_pids(root: int | None = None, table: dict | None = None) -> list[int]:
    """root and all its descendants (driver, JVM, Python workers)."""
    root = os.getpid() if root is None else root
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(root, table) if p in table) / _TICK


def tree_peak_rss_by_process(root: int | None = None) -> dict[str, float]:
    """'pid name' -> peak resident set (VmHWM) in MB, over the tree.
    Their sum is peak_rss_mb: an upper bound on the tree's peak that
    needs no sampling thread and misses no short spike."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


# -- spans -----------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    tasks: int = 0
    min_stage_tasks: int = 0
    rows: int = 0
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    child spans cover (overlapping children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


class Recorder:
    """In-memory span recorder. Disabled, `span()` costs one branch, so
    untraced ops in a traced run pay nothing measurable."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []
        self._groups: dict[int, str] = {}
        self._orig: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str, **info):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, layer, self.op,
                 self._stack[-1] if self._stack else None,
                 time.perf_counter(), info=dict(info))
        self.spans.append(s)
        self._stack.append(s.id)
        prev = self._set_group(s)
        cpu0 = tree_cpu_s()
        try:
            yield s
        finally:
            s.cpu_s = tree_cpu_s() - cpu0
            s.end = time.perf_counter()
            self._stack.pop()
            self._restore_group(prev)

    def _set_group(self, s: Span):
        if self.sc is None:
            return None
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        group = f"perfbench-{os.getpid()}-{s.id}"
        self._groups[s.id] = group
        self.sc.setJobGroup(group, s.name)
        return prev

    def _restore_group(self, prev) -> None:
        if self.sc is None:
            return
        group, desc = prev
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    def collect_tasks(self, op: int) -> None:
        """Fill task counts for the spans of one finished op."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.op != op or s.id not in self._groups:
                continue
            stages = set()
            for jid in st.getJobIdsForGroup(self._groups[s.id]):
                job = st.getJobInfo(jid)
                if job is not None:
                    stages.update(job.stageIds)
            widths = []
            for sid in stages:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:
                    s.tasks += info.numCompletedTasks
                    widths.append(info.numTasks)
            s.min_stage_tasks = min(widths) if widths else 0

    # -- wrapping the package's public entry points ----------------------
    def install(self) -> None:
        from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
            KGPipeline,
        )
        from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        rec = self
        write, read = ParquetCatalog.write, ParquetCatalog.read
        run = KGPipeline.run

        def traced_write(cat, df, table, stage=None, **kw):
            with rec.span("catalog.write", STAGE_LAYER.get(stage or table, "catalog"),
                          table=table, stage=stage or table) as s:
                info = write(cat, df, table, stage=stage, **kw)
                if s is not None:
                    s.rows = info.rows
                    s.info["bytes"] = dir_bytes(os.path.join(
                        cat.root, table, f"snapshot={info.snapshot_id}"))
                    s.info["snapshot"] = info.snapshot_id
                return info

        def traced_read(cat, table, snapshot=None):
            with rec.span("catalog.read", "catalog", table=table):
                return read(cat, table, snapshot=snapshot)

        def traced_run(pipe, source, resume=True):
            with rec.span("pipeline.run", "pipeline"):
                return run(pipe, source, resume=resume)

        self._orig = [
            (ParquetCatalog, "write", write), (ParquetCatalog, "read", read),
            (KGPipeline, "run", run),
        ]
        ParquetCatalog.write, ParquetCatalog.read = traced_write, traced_read
        KGPipeline.run = traced_run

    def uninstall(self) -> None:
        for owner, name, fn in self._orig:
            setattr(owner, name, fn)
        self._orig = []

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times(self.spans)
        spans = [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": spans}, f, indent=0, default=str)


def layer_metrics(spans: list[Span], cores: int = 4) -> dict[str, float]:
    """Per-layer metrics of ONE op's spans. Every layer in LAYERS gets
    every base metric, 0 where the op did not reach it; the catalog
    layer owns only the reads, so its busy_s is reported as read_s."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        busy = sum(s.dur for s in mine)
        cpu = sum(s.cpu_s for s in mine)
        widths = [s.min_stage_tasks for s in mine if s.min_stage_tasks > 0]
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.cpu_util"] = cpu / (busy * cores) if busy > 0 else 0.0
        out[f"{layer}.tasks"] = float(sum(s.tasks for s in mine))
        out[f"{layer}.min_stage_tasks"] = float(min(widths)) if widths else 0.0
        out[f"{layer}.rows_out"] = float(sum(s.rows for s in mine))
    writes = [s for s in spans if s.name == "catalog.write"]
    # the catalog layer owns the reads; stage compute is credited to
    # the stage layers, but every committed row and byte passed it
    out["catalog.rows_out"] = float(sum(s.rows for s in writes))
    out["catalog.bytes_written"] = float(sum(s.info.get("bytes", 0) for s in writes))
    out["catalog.read_s"] = out.pop("catalog.busy_s")
    out["pipeline.self_s"] = sum(selfs[s.id] for s in spans if s.layer == "pipeline")
    for fn in METRIC_FNS:
        mine = [s for s in spans if s.name == f"metrics.{fn}"]
        out[f"metrics.{fn}.busy_s"] = sum(s.dur for s in mine)
        if fn == "rouge":
            widths = [s.min_stage_tasks for s in mine if s.min_stage_tasks > 0]
            out["metrics.rouge.min_stage_tasks"] = float(min(widths)) if widths else 0.0
            out["metrics.rouge.pairs"] = float(sum(s.info.get("pairs", 0) for s in mine))
    return out
