"""Table catalog with atomic snapshot commits and a manifest table.

The production target is Iceberg (`df.writeTo(table).append()` plus
snapshot ids). The package ships no Iceberg runtime, so the catalog is
parquet-backed with the same *semantics*:

- `write` stages to `<table>/.staging-<snapshot>` and atomically
  renames to `<table>/snapshot=<n>` — a reader never sees a partial
  write (Iceberg's atomic snapshot commit, approximated with a POSIX
  rename);
- every committed write appends a manifest row (stage, status, row
  counts from the parquet footers, snapshot id, codegen counters, wall
  time), and `drop_snapshot` appends a 'rolled_back' row;
- `latest_snapshot` + `read` resolve the newest committed snapshot, so
  a killed-and-rerun job resumes from the last committed state
  (exactly-once append: a stage re-run first checks the manifest).
  Incremental runs append one snapshot per table per run, and readers
  that need the whole table union every snapshot.

Swap-in for Iceberg: replace `write`'s stage-and-rename with
`writeTo(...).append()` and `snapshots` with the Iceberg snapshots
metadata table.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class CommitInfo:
    table: str
    snapshot_id: int
    rows: int


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers only — the committed files' own
    metadata, no data scan (Iceberg snapshots carry the same counters
    in their manifests)."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_schema(path: str) -> StructType | None:
    """The Spark row schema recorded in the footer of one parquet file
    under `path`, or None when there is no such file or key."""
    import pyarrow.parquet as pq

    names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    if not names:
        return None
    meta = pq.read_schema(os.path.join(path, names[0])).metadata or {}
    raw = meta.get(_SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def _codegen_counters(spark: SparkSession) -> tuple[int, int]:
    """(classes compiled, compile nanoseconds) so far in the driver JVM,
    from Spark's own codegen counters. In local mode the tasks run in
    that JVM too, so this covers every compile; on a cluster it covers
    the driver's alone."""
    jvm = spark._jvm
    classes = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return classes, nanos


class ParquetCatalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.jsonl")

    # -- snapshots --------------------------------------------------------
    def snapshots(self, table: str) -> list[int]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("snapshot="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def latest_snapshot(self, table: str) -> int | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    # -- io ----------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        stage: str | None = None,
        rows_in: int | None = None,
        repartition_by: str | None = None,
    ) -> CommitInfo:
        """Stage → atomic rename → manifest append.

        The manifest row records the classes Spark compiled, and the
        compile time, during the commit (`codegen_classes`,
        `codegen_ms`). A warm run whose commits compile dozens of
        classes is recompiling code its codegen cache evicted.
        """
        t0 = time.time()
        classes0, nanos0 = _codegen_counters(self.spark)
        snap = (self.latest_snapshot(table) or 0) + 1
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        staging = os.path.join(d, f".staging-{snap}")
        final = os.path.join(d, f"snapshot={snap}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        if repartition_by:
            from pyspark.sql import functions as F

            df = df.repartition(F.col(repartition_by))
        df.write.mode("overwrite").parquet(staging)
        os.rename(staging, final)  # atomic commit
        rows = _parquet_rows(final)
        classes1, nanos1 = _codegen_counters(self.spark)
        self._append_manifest(
            {
                "run_id": os.environ.get("KG_RUN_ID", "local"),
                "stage": stage or table,
                "status": "committed",
                "rows_in": rows_in if rows_in is not None else -1,
                "rows_out": rows,
                "snapshot_id": snap,
                "codegen_classes": classes1 - classes0,
                "codegen_ms": round((nanos1 - nanos0) / 1e6, 1),
                "wall_sec": round(time.time() - t0, 3),
                "updated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return CommitInfo(table, snap, rows)

    def drop_snapshot(self, table: str, snapshot_id: int) -> None:
        """Roll back a committed snapshot (Iceberg equivalent:
        rollback_to_snapshot / expire). Used by run_incremental to
        retract an empty delta commit so latest() keeps pointing at
        real data; audited with a 'rolled_back' manifest row."""
        d = os.path.join(self._table_dir(table), f"snapshot={snapshot_id}")
        if os.path.isdir(d):
            shutil.rmtree(d)
        self._append_manifest(
            {
                "run_id": os.environ.get("KG_RUN_ID", "local"),
                "stage": table,
                "status": "rolled_back",
                "rows_in": -1,
                "rows_out": 0,
                "snapshot_id": snapshot_id,
                "wall_sec": 0.0,
                "updated_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
        )

    def snapshot_rows(self, table: str, snapshot: int | None = None) -> int:
        """Row count of a committed snapshot from parquet footers only."""
        snap = snapshot or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        return _parquet_rows(
            os.path.join(self._table_dir(table), f"snapshot={snap}")
        )

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        """The committed snapshot (default: the latest) as a DataFrame.

        The schema comes from the snapshot's own parquet footer: Spark
        stores its row schema there (_SPARK_SCHEMA_KEY), and every
        snapshot is written by Spark, so the read skips the one-task
        schema-inference job that spark.read.parquet launches. A
        snapshot without that key (written by another writer) falls
        back to inference."""
        snap = snapshot or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        path = os.path.join(self._table_dir(table), f"snapshot={snap}")
        schema = _spark_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    # -- manifest -----------------------------------------------------------
    def _append_manifest(self, row: dict) -> None:
        with open(self._manifest_path(), "a", encoding="utf-8") as f:
            f.write(json.dumps(row) + "\n")

    def manifest(self) -> list[dict]:
        p = self._manifest_path()
        if not os.path.exists(p):
            return []
        with open(p, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed_stages(self) -> set[str]:
        return {
            r["stage"]
            for r in self.manifest()
            if r["status"] == "committed"
        }
