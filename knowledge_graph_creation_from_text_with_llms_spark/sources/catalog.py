"""Table catalog with atomic snapshot commits and a manifest table.

Production target is Iceberg (`df.writeTo(table).append()` + snapshot
ids); this sandbox has no Iceberg runtime jars, so the catalog is
parquet-backed with the same *semantics*:

- writes are staged to `<table>/.staging-<snapshot>` and atomically
  renamed to `<table>/snapshot=<n>` — a reader never sees a partial
  write (Iceberg's atomic snapshot commit, approximated with a POSIX
  rename);
- every committed write appends a manifest row (stage, status, row
  counts, snapshot id, wall time) — the per-partition lineage the
  north_rule requires lives in the parquet files' own partition
  structure plus these counters;
- `latest_snapshot` + `read` resolve the newest committed snapshot, so
  a killed-and-rerun job resumes from the last committed state
  (exactly-once append: a stage re-run first checks the manifest).

Swap-in for Iceberg: replace _commit_dir with `writeTo(...).append()`
and `latest_snapshot` with the Iceberg snapshots metadata table.
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
        num_partitions: int | None = None,
    ) -> CommitInfo:
        """Stage → atomic rename → manifest append.

        The manifest row records the classes Spark compiled, and the
        compile time, during the commit (`codegen_classes`,
        `codegen_ms`). A warm run whose commits compile dozens of
        classes is recompiling code its codegen cache evicted.

        Recovers any interrupted compaction of `table` FIRST: compact()
        allocates its output id as latest+1, so after a crash before
        its rename the snapshot list is unchanged and this write would
        allocate the exact id the dead compaction intended — a later
        recover() could then mistake this unrelated delta snapshot for
        the committed compaction and drop the folded inputs. Recovering
        up front retires the stale intent before the id is reused (the
        commit token in recover() guards the same window a second way).
        """
        t0 = time.time()
        classes0, nanos0 = _codegen_counters(self.spark)
        self.recover(table)
        snap = (self.latest_snapshot(table) or 0) + 1
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        staging = os.path.join(d, f".staging-{snap}")
        final = os.path.join(d, f"snapshot={snap}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        if repartition_by:
            from pyspark.sql import functions as F

            if num_partitions:
                df = df.repartition(num_partitions, F.col(repartition_by))
            else:
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

    def compact(self, table: str) -> CommitInfo:
        """Fold every committed snapshot of `table` into one (Iceberg:
        rewrite_data_files + expire_snapshots). An incremental pipeline
        appends one snapshot per run; after 10⁴ runs a union read-view
        fans in across 10⁴ directories of small files. Compaction reads
        the union once, commits it as a single new snapshot, and drops
        the inputs — the union read-view is row-identical before and
        after (asserted in tests/test_pipeline_resume.py).

        Crash contract: the 'compacting' INTENT row (new snapshot id +
        folded input ids) lands BEFORE the new snapshot is renamed into
        place, so every crash window is recoverable by `recover()`:
        intent-but-no-snapshot → remove the orphan staging dir (inputs
        untouched); snapshot-but-inputs-remain → complete the drops.
        Without the intent-first ordering, a crash between the rename
        and the manifest append would leave union read-views returning
        every row twice with no record to recover from. (Iceberg does
        this transactionally — this is the documented divergence of the
        parquet stand-in.)
        """
        self.recover(table)
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        union = self.read(table, snapshot=snaps[0])
        for s in snaps[1:]:
            union = union.unionByName(self.read(table, snapshot=s))
        t0 = time.time()
        snap = snaps[-1] + 1
        d = self._table_dir(table)
        staging = os.path.join(d, f".staging-{snap}")
        final = os.path.join(d, f"snapshot={snap}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        union.write.mode("overwrite").parquet(staging)
        rows = _parquet_rows(staging)
        # Commit token: stamped into the staging dir BEFORE the intent
        # row, recorded in the intent, carried into `final` by the
        # rename. recover() only treats `final` as the committed
        # compaction output if the token matches — a snapshot dir that
        # merely reuses the id (e.g. an incremental write after a
        # pre-rename crash) can never trigger input drops. Dot-prefixed
        # so Spark/pyarrow parquet readers ignore it.
        import uuid

        token = uuid.uuid4().hex
        with open(
            os.path.join(staging, ".compaction_token"), "w", encoding="utf-8"
        ) as f:
            f.write(token)
        self._append_manifest(
            {
                "run_id": os.environ.get("KG_RUN_ID", "local"),
                "stage": table,
                "status": "compacting",
                "rows_in": len(snaps),
                "rows_out": rows,
                "snapshot_id": snap,
                "folded": snaps,
                "token": token,
                "wall_sec": round(time.time() - t0, 3),
                "updated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        os.rename(staging, final)
        for s in snaps:
            shutil.rmtree(os.path.join(d, f"snapshot={s}"), ignore_errors=True)
        self._append_manifest(
            {
                "run_id": os.environ.get("KG_RUN_ID", "local"),
                "stage": table,
                "status": "compacted",
                "rows_in": len(snaps),
                "rows_out": rows,
                "snapshot_id": snap,
                "wall_sec": round(time.time() - t0, 3),
                "updated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return CommitInfo(table, snap, rows)

    def recover(self, table: str, grace_sec: float = 0.0) -> str | None:
        """Finish or roll back an interrupted compaction of `table`
        (Iceberg: the commit is transactional, so this is a no-op
        there; the parquet stand-in replays the intent row).

        Reads the last 'compacting' intent row not followed by a
        'compacted' row. Three crash windows:
        - intent written, snapshot NOT renamed in (or a snapshot with
          that id exists but FAILS commit-token verification — i.e. an
          unrelated write reused the id) → remove the orphan staging
          dir; inputs and the unrelated snapshot untouched
          ('compaction_aborted').
        - snapshot renamed in AND token-verified, some inputs not yet
          dropped → complete the drops ('compacted', recovered flag).
        - nothing pending → None.
        Returns the action taken ('aborted' | 'completed') or None.

        Committed-ness is decided by the commit token stamped into the
        snapshot dir (intent rows predating the token carry a row-count
        fallback check), never by the bare existence of snapshot=<id> —
        see write()'s docstring for the id-reuse hazard this closes.

        `grace_sec` > 0 skips the ABORT window for intents younger than
        that many seconds: under the documented single-driver
        assumption a concurrent READER (`_read_all` auto-recovers)
        could otherwise see a legitimately in-flight compaction's
        intent row and delete its live staging dir. The completion
        window (token-verified snapshot in place) has no grace — the
        drops are idempotent and racing the compactor's own drops is
        harmless. Multi-writer coordination is out of scope (Iceberg's
        transactional catalog owns it in production).
        """
        pending = None
        for r in self.manifest():
            if r["stage"] != table:
                continue
            if r["status"] == "compacting":
                pending = r
            elif r["status"] in ("compacted", "compaction_aborted") and (
                pending is not None
                and r["snapshot_id"] == pending["snapshot_id"]
            ):
                pending = None
        if pending is None:
            return None
        d = self._table_dir(table)
        snap = pending["snapshot_id"]
        final = os.path.join(d, f"snapshot={snap}")
        staging = os.path.join(d, f".staging-{snap}")
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        base = {
            "run_id": os.environ.get("KG_RUN_ID", "local"),
            "stage": table,
            "rows_in": pending["rows_in"],
            "snapshot_id": snap,
            "wall_sec": 0.0,
            "updated_at": now,
        }
        committed = False
        if os.path.isdir(final):
            token = pending.get("token")
            if token is not None:
                tok_path = os.path.join(final, ".compaction_token")
                try:
                    with open(tok_path, encoding="utf-8") as f:
                        committed = f.read().strip() == token
                except OSError:
                    committed = False
            else:
                # pre-token intent row (no token to verify — only
                # manifests written by pre-token code can reach this).
                # Row-count equality alone is NOT proof of commit: an
                # unrelated write that reused the id with a
                # coincidentally equal row count would be accepted and
                # its live inputs dropped. Drops complete only when
                # some-but-not-all folded inputs are already gone —
                # only a committed compaction crashed mid-drop can
                # produce that state (an id-reusing writer never starts
                # drops; single-driver assumption). With all inputs
                # intact the intent is ambiguous and resolves
                # abort-only: worst case a committed-then-crashed
                # pre-token union leaves duplicate rows beside its
                # inputs (visible, re-compactable) instead of risking
                # silent input loss.
                folded_present = [
                    os.path.isdir(os.path.join(d, f"snapshot={s}"))
                    for s in pending["folded"]
                    if s != snap
                ]
                drops_started = folded_present and not all(folded_present)
                committed = drops_started and (
                    _parquet_rows(final) == pending["rows_out"]
                )
        if not committed:
            # crash before the rename (or an unrelated snapshot reused
            # the id): the union snapshot never committed — drop the
            # orphan staging dir; inputs AND any id-reusing snapshot
            # stand untouched
            if grace_sec > 0:
                import calendar

                t = calendar.timegm(
                    time.strptime(pending["updated_at"], "%Y-%m-%dT%H:%M:%SZ")
                )
                if time.time() - t < grace_sec:
                    return None  # possibly still in flight — leave it
            shutil.rmtree(staging, ignore_errors=True)
            self._append_manifest(
                {**base, "status": "compaction_aborted", "rows_out": 0}
            )
            return "aborted"
        # crash after the rename: complete the input drops
        for s in pending["folded"]:
            if s != snap:
                shutil.rmtree(
                    os.path.join(d, f"snapshot={s}"), ignore_errors=True
                )
        self._append_manifest(
            {
                **base,
                "status": "compacted",
                "rows_out": pending["rows_out"],
                "recovered": True,
            }
        )
        return "completed"

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
