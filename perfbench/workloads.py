"""The benchmark workloads and the Spark session they share.

Each workload drives the package only through its public API, over
inputs `gen` makes from the seed. The runner calls setup() once, then
per op k: run(k) (timed, returns the op's work count), check(k)
(untimed, '' or why the op failed) and cleanup(k).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_graph_creation_from_text_with_llms_spark import get_spark
from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
    embed_labels,
)
from knowledge_graph_creation_from_text_with_llms_spark.operators import metrics
from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
    KGPipeline,
    PipelineConfig,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
    ParquetCatalog,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
    SOURCE_DDL,
    with_ingest_columns,
)

from . import checks, gen

CORES = 4
# Input sizes. A whole run (JVM start, inputs, a cold op and
# three measured ops) must stay under 60 s, which caps op size; see
# README.md for the time budget. evaluate scores 1000 x 160 = 160k
# ROUGE pairs, so that ROUGE is the largest part of its op.
SIZES = {
    "build": {"docs": 800, "entities": 3000, "properties": 100},
    "evaluate": {"generated": 1000, "ground_truth": 160,
                 "entities": 3000, "properties": 100},
}
_ENTITY_DDL = "entity_id string, label string, alias string, rank int"
_PROPERTY_DDL = "prop_id string, label string, alias string, rank int"
_TRIPLE_DDL = "subj string, pred string, obj string"


def session(work: str, cores: int = CORES):
    """local[cores] session with every scratch path inside `work` and
    the package's settings (`get_spark`), except a 2 GB heap cap in
    place of the 8 GB default, to keep the benchmark's footprint small:
    with 8 GB the JVM's resident size swung between 2.4 and 3.8 GB from
    run to run on a 4-vCPU, 16 GB host. The heap is neither fixed nor
    pre-touched, so a program that needs more of it shows a larger
    peak_rss_mb."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _write_parquet(pdf, path: str, files: int = 8) -> None:
    """A small table as several files, as a corpus would be stored."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, sizes: dict | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes or SIZES[self.name]
        self.input_digest = ""

    def _inputs(self):
        return gen.make_inputs(self.seed, self.sizes["entities"],
                               self.sizes["properties"])

    def _set_input_digest(self, parts: list) -> None:
        """Record the inputs' digest; at the default seed it must match
        SPEC.json, so a changed generator cannot pass unnoticed."""
        self.input_digest = gen.digest(parts)
        want = spec().get("input_digests", {}).get(self.name)
        if self.seed == gen.DEFAULT_SEED and want and want != self.input_digest:
            raise RuntimeError(f"{self.name} inputs differ from SPEC.json at the "
                               f"default seed: {self.input_digest} != {want}")

    def _table(self, pdf, name: str, ddl: str | None = None):
        """Store a generated table and load it back, checking its size."""
        path = os.path.join(self.work, "input", name)
        _write_parquet(pdf, path)
        reader = self.spark.read
        df = reader.schema(ddl).parquet(path) if ddl else reader.parquet(path)
        if df.count() != len(pdf):
            raise RuntimeError(f"input table {name} did not load all {len(pdf)} rows")
        return df

    def setup(self) -> None:
        """Generate the inputs and load them."""
        raise NotImplementedError

    def run(self, k: int, rec) -> int:
        raise NotImplementedError

    def check(self, k: int) -> str:
        return ""

    def cleanup(self, k: int) -> None:
        pass

    def layer_ratios(self, k: int) -> dict[str, float]:
        return {}


class Build(Workload):
    """KGPipeline.run(resume=False) into a fresh catalog: all 7 stages."""

    name = "build"

    def setup(self) -> None:
        inp = self._inputs()
        corpus = gen.make_corpus(inp, self.sizes["docs"])
        self._set_input_digest([inp.entity_rows, inp.property_rows,
                                corpus.values.tolist()])
        self._dictionaries(inp)
        self.source = with_ingest_columns(self._table(corpus, "source", SOURCE_DDL))
        self.first = None
        self.recorded = None
        if self.seed == gen.DEFAULT_SEED:
            self.recorded = spec().get("digests", {}).get("build")

    def run(self, k: int, rec) -> int:
        counts = self._pipeline(self._cat_dir(k)).run(self.source, resume=False)
        return counts["triples_linked"]

    def check(self, k: int) -> str:
        pipe = self._pipeline(self._cat_dir(k))
        # the invariant covers the per-row tables, which the graph
        # digests do not; once per run keeps the untimed checks short
        if k == 0 and not pipe.verify_invariant():
            return "verify_invariant() failed"
        got = checks.graph_digests(pipe.catalog)
        why = checks.check_digests(got, self.first, self.recorded)
        self.first = self.first or got
        return why

    def _dictionaries(self, inp) -> None:
        import pandas as pd

        ent = pd.DataFrame(inp.entity_rows, columns=["entity_id", "label", "alias", "rank"])
        prop = pd.DataFrame(inp.property_rows, columns=["prop_id", "label", "alias", "rank"])
        ent["rank"] = ent["rank"].astype("int32")
        prop["rank"] = prop["rank"].astype("int32")
        self.entity_dict = self._table(ent, "entity_dict", _ENTITY_DDL)
        # property embeddings are computed once, as a dictionary build
        # step would, and stored with the dictionary
        path = os.path.join(self.work, "input", "property_dict")
        embed_labels(self._table(prop, "property_raw", _PROPERTY_DDL), "alias") \
            .write.mode("overwrite").parquet(path)
        self.property_dict = self.spark.read.parquet(path)
        self.config = PipelineConfig(property_method="mixed",
                                     backend_factory=gen.StandInBackend)

    def _pipeline(self, root: str) -> KGPipeline:
        return KGPipeline(self.spark, ParquetCatalog(root, self.spark), self.config,
                          entity_dict=self.entity_dict,
                          property_dict=self.property_dict)

    def layer_ratios(self, k: int) -> dict[str, float]:
        """Useful-outcome ratios, measured on the tables op k committed."""
        from pyspark.sql import functions as F

        cat = ParquetCatalog(self._cat_dir(k), self.spark)
        r = cat.read("raw_responses").agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.coalesce(F.col("response"), F.lit("")) == "", 1)).alias("empty"),
            F.sum(F.when(F.col("response") != "",
                         F.size(F.split("response", "\n")))).alias("lines"),
        ).first()
        triples = cat.snapshot_rows("triples_raw")
        lk = cat.read("triples_linked").agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(~F.col("is_literal"), 1)).alias("linked"),
        ).first()
        nodes = cat.read("nodes").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("n_mentions").alias("m")).first()
        edges = cat.read("edges").agg(F.count(F.lit(1)).alias("n"),
                                      F.sum("weight").alias("w")).first()
        return {
            "extractor.empty_ratio": r.empty / r.n if r.n else 0.0,
            "parser.accept_ratio": triples / r.lines if r.lines else 0.0,
            "linker.link_ratio": lk.linked / lk.n if lk.n else 0.0,
            "canonicalizer.reduction": nodes.m / nodes.n if nodes.n else 0.0,
            "graph.edge_ratio": edges.n / edges.w if edges.w else 0.0,
        }

    def _cat_dir(self, k: int) -> str:
        return os.path.join(self.work, f"catalog-{k}")

    def cleanup(self, k: int) -> None:
        shutil.rmtree(self._cat_dir(k), ignore_errors=True)


class Evaluate(Workload):
    """Strict, component, relaxed, ROUGE-1/2/L best-match and BERTScore
    of generated triples against the planted ground truth."""

    name = "evaluate"

    def setup(self) -> None:
        import pandas as pd

        inp = self._inputs()
        ev = gen.make_eval_set(inp, self.sizes["generated"], self.sizes["ground_truth"])
        self._set_input_digest([ev.generated, ev.ground_truth])
        self.expected = gen.expected_metrics(ev)
        self.exact = set(ev.exact)
        cols = ["subj", "pred", "obj"]
        self.generated = self._table(pd.DataFrame(ev.generated, columns=cols),
                                     "generated", _TRIPLE_DDL)
        self.ground_truth = self._table(pd.DataFrame(ev.ground_truth, columns=cols),
                                        "ground_truth", _TRIPLE_DDL)
        # BERTScore is pairwise: each generated triple against one GT
        # triple, exact copies against themselves
        gt_text = [" ".join(t) for t in ev.ground_truth]
        pairs = [(" ".join(t), " ".join(t) if t in self.exact else gt_text[i % len(gt_text)])
                 for i, t in enumerate(ev.generated)]
        self.pairs = self._table(pd.DataFrame(pairs, columns=["cand", "ref"]),
                                 "pairs", "cand string, ref string")
        self.n_pairs = len(ev.generated) * len(ev.ground_truth)
        self.results: dict = {}

    def run(self, k: int, rec) -> int:
        g, t = self.generated, self.ground_truth
        res = {}
        (row,) = _scored(rec, "strict", lambda: metrics.strict_metrics(g, t).collect())
        res["strict"] = (row.tp, row.fp, row.fn)
        rows = _scored(rec, "component", lambda: metrics.component_metrics(g, t).collect())
        res.update({r.component: (r.tp, r.fp, r.fn) for r in rows})
        (row,) = _scored(rec, "relaxed", lambda: metrics.relaxed_metrics(g, t).collect())
        res["relaxed"] = (row.tp, row.fp, row.fn)
        rows = _scored(rec, "rouge", lambda: metrics.rouge_best_match(g, t).collect(),
                       pairs=self.n_pairs)
        res["rouge"] = {(r.subj, r.pred, r.obj):
                        (r.best_rouge1_f, r.best_rouge2_f, r.best_rougeL_f) for r in rows}
        rows = _scored(rec, "bertscore", lambda: metrics.bertscore_pairs(
            self.pairs, "cand", "ref").select("cand", "ref", "bs_f1").collect())
        res["bertscore"] = {(r.cand, r.ref): r.bs_f1 for r in rows}
        self.results[k] = res
        return self.sizes["generated"]

    def check(self, k: int) -> str:
        return checks.check_evaluate(self.results.pop(k), self.expected, self.exact)


def _scored(rec, fn: str, force, **info) -> list:
    """One operators.metrics call and the collect that forces it, in a
    span of the metrics layer (the functions are lazy)."""
    with rec.span(f"metrics.{fn}", "metrics", **info) as s:
        rows = force()
        if s is not None:
            s.rows = len(rows)
    return rows


WORKLOADS = {w.name: w for w in (Build, Evaluate)}


def spec() -> dict:
    """SPEC.json: the default seed, the digests recorded at it and the
    layer -> end-to-end metric -> workload map."""
    import json

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SPEC.json")
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}
