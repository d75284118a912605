"""Fixture corpus loaders: build the `source` input table
(repo, path, commit, lang, content [+ content_sha256, doc_id])
deterministically — from the reference's committed test corpora when
available (parity oracles), or from any documents DataFrame.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REFERENCE_ROOT = "/root/reference"

CORPORA = {
    "ai": "tests/data/Datasets_Generator/Dataset_AI/Raw",
    "lebron": "tests/data/Datasets_Generator/Dataset_LebronJames/Raw",
}

_FIXED_COMMIT = hashlib.sha1(b"kg-spark-fixture").hexdigest()


def with_ingest_columns(df: DataFrame) -> DataFrame:
    """Attach the per-row invariant hash and the lineage doc id."""
    return df.withColumn(
        "content_sha256", F.sha2(F.col("content"), 256)
    ).withColumn(
        "doc_id",
        F.sha2(F.concat_ws(" ", F.col("repo"), F.col("path"), F.col("commit")), 256),
    )


def _read_dir_rows(root: str, rel: str, repo: str) -> list[tuple]:
    rows = []
    d = os.path.join(root, rel)
    for p in sorted(glob.glob(os.path.join(d, "*.txt"))):
        with open(p, encoding="utf-8") as f:
            rows.append((repo, f"raw/{os.path.basename(p)}", _FIXED_COMMIT, "text", f.read()))
    return rows


def reference_source_table(
    spark: SparkSession, root: str = REFERENCE_ROOT, corpora: tuple[str, ...] = ("ai", "lebron")
) -> DataFrame:
    """source table carrying the reference corpora text (read-only
    access to /root/reference at test time; nothing is copied into the
    repo beyond what tests read on the fly)."""
    rows: list[tuple] = []
    for name in corpora:
        rows.extend(_read_dir_rows(root, CORPORA[name], f"corpus/{name}"))
    if not rows:
        raise FileNotFoundError(f"no corpus files under {root}")
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    return with_ingest_columns(df)


def documents_as_source(documents: DataFrame) -> DataFrame:
    """Map the driver's documents table (doc_id, text, lang, source,
    n_chars) into the input_hint `source` shape."""
    df = documents.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lit(_FIXED_COMMIT).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    return with_ingest_columns(df)


SOURCE_DDL = "repo string, path string, commit string, lang string, content string"


def read_source(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Load a source table of the input_hint shape (repo, path,
    commit, lang, content) from any of the supported formats and
    attach the ingest columns (content_sha256 invariant + doc_id).

    - parquet: columnar scan, predicate/column pushdown (the 100 TB
      path; an Iceberg catalog table reads identically via
      spark.read.table).
    - jsonl / csv: schema pinned to SOURCE_DDL (never inferSchema — a
      schema-inference pass over a large corpus is a full extra scan).
    - text: one file per document via spark.read.text with
      wholetext, repo/path/commit synthesized from the file path.
    """
    if fmt == "parquet":
        df = spark.read.schema(SOURCE_DDL).parquet(path)
    elif fmt in ("json", "jsonl"):
        df = spark.read.schema(SOURCE_DDL).json(path)
    elif fmt == "csv":
        df = spark.read.schema(SOURCE_DDL).option("header", "true").csv(path)
    elif fmt == "text":
        raw = spark.read.option("wholetext", "true").text(path)
        files = raw.select(
            F.input_file_name().alias("_file"), F.col("value").alias("content")
        )
        df = files.select(
            F.lit("textdir").alias("repo"),
            F.element_at(F.split("_file", "/"), -1).alias("path"),
            F.lit(_FIXED_COMMIT).alias("commit"),
            F.lit("text").alias("lang"),
            "content",
        )
    else:
        raise ValueError(f"unsupported source format: {fmt}")
    return with_ingest_columns(df)
