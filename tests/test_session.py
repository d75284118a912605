"""Session defaults: the spark-submit merge and the codegen cache size."""

from pyspark import SparkConf

from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
    embed_labels,
)
from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
    KGPipeline,
    PipelineConfig,
)
from knowledge_graph_creation_from_text_with_llms_spark.session import with_defaults
from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
    ParquetCatalog,
    _codegen_counters,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
    with_ingest_columns,
)


def test_with_defaults_keeps_launcher_settings():
    """A key the launcher set is kept, missing keys are filled, and no
    master is injected (spark-submit's --master decides)."""
    conf = SparkConf(loadDefaults=False).set("spark.sql.shuffle.partitions", "7")
    with_defaults(conf)
    assert conf.get("spark.sql.shuffle.partitions") == "7"
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "2048"
    assert conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert not conf.contains("spark.master")


def _codegen_cache(spark):
    """Spark's codegen cache, a private member of CodeGenerator. Its
    size tells an eviction apart from a never-seen class, which the
    public compile counter cannot."""
    gen = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    cache = gen.getDeclaredMethod("cache", None)
    cache.setAccessible(True)
    return cache.invoke(gen.getField("MODULE$").get(None), None)


def test_warm_pipeline_run_recompiles_nothing(spark, tmp_path):
    """Two KGPipeline.runs in one JVM evict no generated class, so the
    second recompiles nothing the first compiled: the codegen cache
    holds a run's whole working set (at Spark's default of 100 entries
    it evicted, and every warm run recompiled dozens). The second run
    may still compile a few classes the first never saw: AQE numbers
    the whole-stage codegen stages in the order the linker's broadcast
    stages finish, and the number is part of the class source.
    Each commit's manifest row reports what it compiled."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    src = with_ingest_columns(
        spark.createDataFrame(
            [
                ("r", f"f{i}.txt", "c", "text",
                 " ".join(words[(i + j) % 7] for j in range(9)) + f" doc{i}.")
                for i in range(12)
            ],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    entity_dict = spark.createDataFrame(
        [(f"Q{i}", w, w.upper(), 0) for i, w in enumerate(words[:5])],
        "entity_id string, label string, alias string, rank int",
    )
    property_dict = embed_labels(
        spark.createDataFrame(
            [("P1", "follows", "follows", 0), ("P1", "follows", "comes after", 1),
             ("P2", "precedes", "comes before", 0)],
            "prop_id string, label string, alias string, rank int",
        ),
        "alias",
    )
    config = PipelineConfig(chunk_size=60, property_method="mixed")

    def run(name: str) -> int:
        """Classes the run's commits compiled, by their manifest rows."""
        cat = ParquetCatalog(str(tmp_path / name), spark)
        KGPipeline(spark, cat, config, entity_dict, property_dict).run(src)
        rows = [r for r in cat.manifest() if r["status"] == "committed"]
        assert len(rows) == 8
        assert all(r["codegen_ms"] >= 0 for r in rows)
        return sum(r["codegen_classes"] for r in rows)

    cache = _codegen_cache(spark)
    cache.invalidateAll()  # earlier tests' classes must not be evicted here
    start = _codegen_counters(spark)[0]
    first = run("first")
    middle = _codegen_counters(spark)[0]
    second = run("second")
    end = _codegen_counters(spark)[0]
    assert first == middle - start > 0
    assert second == end - middle
    assert cache.size() == end - start  # nothing evicted
