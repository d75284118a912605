"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
Arrow batching for the UDF stages) while remaining correct on local[N].
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_DEFAULTS = {
    # Let AQE re-plan at runtime: coalesce small shuffle partitions,
    # split skewed ones (hub entities are the known skew source).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF boundary; batch size bounds extractor
    # micro-batches (the LLM-backend unit of work).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Dictionaries (entity/property alias tables) are small; make sure
    # the planner broadcasts them rather than shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Stable shuffle width for the local harness; a real cluster run
    # overrides via spark-submit --conf (see bench.py / plans.pipeline).
    "spark.sql.shuffle.partitions": "32",
    # InferFiltersFromGenerate turns every explode(computed_array) into
    # an inferred `size(arr) > 0 AND isnotnull(arr)` predicate that
    # predicate-pushdown then sinks below any repartition with the full
    # array-building expression INLINED — the tokenize/shingle/digest
    # pipeline re-evaluated interpreted inside a Filter, at the raw
    # scan's parallelism, per inferred conjunct (measured: the ngram
    # inverted-index explode went 53 s -> 5 s at sf1.0 with the rule
    # off). The inferred filter only prunes rows whose explode emits
    # nothing, so excluding it cannot change any result; this engine
    # explodes computed arrays everywhere, so the rule is a pure loss.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Keep every generated class compiled for the life of the JVM.
    # Spark's default cache holds 100 entries (a Guava cache that
    # evicts per segment, so it can evict below 100). Measured working
    # sets, in classes: a perfbench build op (KGPipeline.run, mixed
    # linking) 107, an evaluate op 85, bench.py's kg_pipeline_e2e leaf
    # 58, tests/test_pipeline_resume.py 97. At 100, every warm build op
    # recompiled 75-77 classes (0.85-0.98 s of Janino time on 4 cores)
    # and every evaluate op 23-24, restarting their JIT warm-up; at
    # 1000 both recompile none. Static conf: it applies when the
    # session's JVM is created.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "kg-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master resolution order: explicit arg > $SPARK_GRAFT_MASTER >
    local[$SPARK_GRAFT_CPUS] > local[*].
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def with_defaults(conf: SparkConf) -> SparkConf:
    """Fill every package default that `conf` leaves unset, in place.

    Set-if-missing: a value already in `conf` (spark-submit's --master
    and --conf, spark-defaults.conf) wins, and no master is added."""
    for k, v in _DEFAULTS.items():
        conf.setIfMissing(k, v)
    return conf


def submit_session(app_name: str) -> SparkSession:
    """SparkSession for a spark-submit entry point: the launcher's
    settings as given, plus the package defaults they leave unset.

    The launcher's settings live in the JVM that spark-submit started
    (bare `python` starts one with spark-submit's own master default,
    local[*]), so the conf is read from there before the defaults are
    merged; builder options alone would override --conf."""
    SparkContext._ensure_initialized()
    conf = with_defaults(SparkConf())
    return SparkSession.builder.config(conf=conf).appName(app_name).getOrCreate()
