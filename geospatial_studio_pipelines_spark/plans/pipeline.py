"""Checkpointed, resumable multi-stage pipelines with per-partition lineage
and metrics (SURVEY.md §2.9, §3.2).

What the reference does with a Postgres task table + JSONB step status
machine (READY→RUNNING→FINISHED, ``orchestrate_wrapper.py:170-282``) and
per-task config files, the engine does with:

* **stages** — named ``DataFrame -> DataFrame`` functions (the CLAIMED
  component analog, SURVEY §2.10), composed by ``run_pipeline``
* **snapshot checkpoints** — two interchangeable backends behind
  ``Pipeline(backend=...)``:

  - ``"parquet"`` (the default everywhere jars are absent): each stage's
    output is committed atomically (write to a temp dir, fsync,
    ``os.rename``) and recorded in a ledger with a monotonically increasing
    ``snapshot_id`` — Iceberg's snapshot-commit atomicity contract without
    JVM extension jars, so ``spark-submit --py-files`` stays sufficient.
  - ``"iceberg"``: stage outputs land as real Iceberg tables via
    ``df.writeTo(<catalog>.<ns>.<job>__<stage>).createOrReplace()`` and the
    ledger records the CATALOG's snapshot id (read back from the table's
    ``.snapshots`` metadata). Activated when ``backend="auto"`` finds
    ``iceberg-spark-runtime`` on the classpath AND the target catalog named
    by ``$SPARK_GRAFT_ICEBERG_CATALOG`` (default ``spark_catalog``) is an
    Iceberg SparkCatalog; this sandbox has no jars, so auto resolves to
    parquet here and the iceberg branch is exercised by a forced-mode
    error-path test.
* **resume** — a rerun of the same job id skips every stage whose ledger
  entry and committed output exist; outputs are byte-stable because every
  generator/operator is a pure function of its input (no wall clock, no
  unseeded RNG — SURVEY §7.4.5)
* **per-partition metrics** — read on the driver from the committed files,
  with no Spark job: rows from each parquet footer and bytes as the file's
  on-disk size, keyed by the partition number in the file name (the
  table's ``.files`` metadata under Iceberg). The driver appends
  ``(job_id, stage, partition_id, rows, bytes, wall_ms, ts)`` rows to the
  metrics table with pyarrow (replaces ``metrics.py:13-88``'s
  OpenTelemetry histogram with queryable lineage).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

METRICS_SCHEMA = (
    "job_id string, stage string, partition_id int, rows long, bytes long, "
    "wall_ms double, ts timestamp"
)
CHECKPOINT_SCHEMA = "job_id string, stage string, snapshot_id long, committed_at timestamp"


def _partition_metrics(files) -> dict[int, tuple[int, int]]:
    """(path, rows, bytes) of committed data files → {partition: (rows,
    bytes)}. The partition is the file name's leading number:
    ``part-00003-<uuid>-c000.snappy.parquet`` (Spark),
    ``00003-<task>-<uuid>-00001.parquet`` (Iceberg)."""
    out: dict[int, tuple[int, int]] = {}
    for path, rows, nbytes in files:
        pid = int(os.path.basename(path).removeprefix("part-").split("-")[0])
        r, b = out.get(pid, (0, 0))
        out[pid] = (r + rows, b + nbytes)
    return out


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when iceberg-spark-runtime is on the classpath AND ``catalog``
    (default $SPARK_GRAFT_ICEBERG_CATALOG or ``spark_catalog``) is
    configured as an Iceberg SparkCatalog/SparkSessionCatalog."""
    catalog = catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog")
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:  # noqa: BLE001 — absence of the jar IS the signal
        return False
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None and "iceberg" in impl.lower()


class _IcebergSnapshots:
    """Stage-output storage through a real Iceberg catalog: writeTo +
    catalog snapshot ids. Table per (job, stage): ``<catalog>.<ns>.<job>__
    <stage>`` (namespace $SPARK_GRAFT_ICEBERG_NS, default ``gsp``)."""

    def __init__(self, spark: SparkSession, job_id: str, catalog: str | None = None):
        self.spark = spark
        self.catalog = catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog")
        self.ns = os.environ.get("SPARK_GRAFT_ICEBERG_NS", "gsp")
        self.job_id = job_id
        if not iceberg_available(spark, self.catalog):
            raise RuntimeError(
                f"backend='iceberg' requires iceberg-spark-runtime on the "
                f"classpath and spark.sql.catalog.{self.catalog} set to an "
                "Iceberg catalog — launch with --packages "
                "org.apache.iceberg:iceberg-spark-runtime-<ver> or use "
                "backend='parquet'"
            )
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.ns}")

    def _table(self, stage: str) -> str:
        safe = "".join(c if c.isalnum() else "_" for c in f"{self.job_id}__{stage}")
        return f"{self.catalog}.{self.ns}.{safe}"

    def committed(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage))

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.table(self._table(stage))

    def write(self, df: DataFrame, stage: str) -> int:
        tbl = self._table(stage)
        df.writeTo(tbl).using("iceberg").createOrReplace()  # atomic catalog commit
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return int(snap["snapshot_id"])

    def partition_metrics(self, stage: str) -> dict[int, tuple[int, int]]:
        files = self.spark.sql(
            f"SELECT file_path, record_count, file_size_in_bytes FROM {self._table(stage)}.files"
        ).collect()
        return _partition_metrics(files)


class _ParquetSnapshots:
    """Jar-free fallback with the same atomicity contract: temp dir →
    fsync'd ledger entry → os.rename. Snapshot ids are ledger-monotonic."""

    def __init__(self, pipeline: "Pipeline"):
        self.p = pipeline

    def committed(self, stage: str) -> bool:
        out = self.p._stage_path(stage)
        return os.path.exists(os.path.join(out, "_SUCCESS"))

    def read(self, stage: str) -> DataFrame:
        return self.p.spark.read.parquet(self.p._stage_path(stage))

    def write(self, df: DataFrame, stage: str) -> int | None:
        out_path = self.p._stage_path(stage)
        tmp_path = out_path + "__tmp"
        if os.path.exists(tmp_path):
            shutil.rmtree(tmp_path)
        df.write.mode("overwrite").parquet(tmp_path)
        if os.path.exists(out_path):
            shutil.rmtree(out_path)
        os.rename(tmp_path, out_path)  # atomic snapshot commit
        return None  # ledger assigns the monotonic id

    def partition_metrics(self, stage: str) -> dict[int, tuple[int, int]]:
        out = self.p._stage_path(stage)
        paths = [os.path.join(out, f) for f in glob.glob("part-*.parquet", root_dir=out)]
        return _partition_metrics((f, pq.read_metadata(f).num_rows, os.path.getsize(f)) for f in paths)


class Pipeline:
    """Compose and run stages with checkpoint/resume over a warehouse dir.

    ``backend="auto"`` uses a real Iceberg catalog when one is configured
    (see ``iceberg_available``) and the parquet-ledger emulation otherwise;
    ``"parquet"``/``"iceberg"`` force a mode."""

    def __init__(self, spark: SparkSession, warehouse: str, job_id: str,
                 backend: str = "auto"):
        self.spark = spark
        self.warehouse = warehouse
        self.job_id = job_id
        os.makedirs(self._ledger_dir, exist_ok=True)
        if backend == "auto":
            backend = "iceberg" if iceberg_available(spark) else "parquet"
        self.backend = backend
        self._store = (
            _IcebergSnapshots(spark, job_id) if backend == "iceberg"
            else _ParquetSnapshots(self)
        )

    # ------------------------------------------------------------ paths

    @property
    def _ledger_dir(self) -> str:
        return os.path.join(self.warehouse, "_ledger")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, self.job_id, stage)

    def _ledger_path(self, stage: str) -> str:
        return os.path.join(self._ledger_dir, f"{self.job_id}__{stage}.json")

    # ------------------------------------------------------------ ledger

    def committed(self, stage: str) -> bool:
        return os.path.exists(self._ledger_path(stage)) and self._store.committed(stage)

    def _commit(self, stage: str, wall_ms: float, part_metrics: dict,
                snapshot_id: int | None = None) -> int:
        if snapshot_id is None:
            snapshot_id = len(os.listdir(self._ledger_dir)) + 1
        entry = {
            "job_id": self.job_id,
            "stage": stage,
            "snapshot_id": snapshot_id,
            "committed_at": time.time(),
            "wall_ms": wall_ms,
        }
        tmp = self._ledger_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._ledger_path(stage))  # atomic transition analog
        self._append_metrics(stage, wall_ms, part_metrics)
        return snapshot_id

    def _append_metrics(self, stage: str, wall_ms: float, part_metrics: dict) -> None:
        """One parquet file per (job, stage), committed by temp file →
        fsync → rename like the ledger; Spark's reader skips ``.``-files."""
        parts = sorted(part_metrics.items()) or [(-1, (0, 0))]
        n = len(parts)
        table = pa.table(
            {
                "job_id": [self.job_id] * n,
                "stage": [stage] * n,
                "partition_id": pa.array([pid for pid, _ in parts], pa.int32()),
                "rows": [cnt for _, (cnt, _) in parts],
                "bytes": [nbytes for _, (_, nbytes) in parts],
                "wall_ms": [float(wall_ms)] * n,
                # zoned: Spark reads a zone-less timestamp as timestamp_ntz
                "ts": pa.array([datetime.now(timezone.utc)] * n, pa.timestamp("us", tz="UTC")),
            }
        )
        out_dir = os.path.join(self.warehouse, "metrics")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{self.job_id}__{stage}.parquet"
        tmp = os.path.join(out_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(out_dir, name))

    # -------------------------------------------------------------- run

    def run_stage(self, stage: Stage, inp: DataFrame | None) -> DataFrame:
        if self.committed(stage.name):
            return self._store.read(stage.name)
        t0 = time.time()
        snapshot_id = self._store.write(stage.fn(inp), stage.name)
        wall_ms = (time.time() - t0) * 1000.0
        self._commit(stage.name, wall_ms, self._store.partition_metrics(stage.name), snapshot_id)
        return self._store.read(stage.name)

    def run(self, stages: list[Stage], source: DataFrame | None = None) -> DataFrame:
        cur = source
        for st in stages:
            cur = self.run_stage(st, cur)
        return cur

    # ----------------------------------------------------------- tables

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.warehouse, "metrics"))

    def checkpoints(self) -> DataFrame:
        entries = []
        for f in sorted(os.listdir(self._ledger_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self._ledger_dir, f)) as fh:
                    entries.append(json.load(fh))
        pdf = pd.DataFrame(
            entries, columns=["job_id", "stage", "snapshot_id", "committed_at", "wall_ms"]
        ).sort_values("snapshot_id")
        # Spark timestamps hold microseconds; Arrow refuses to drop the rest
        pdf["committed_at"] = pd.to_datetime(pdf["committed_at"], unit="s").dt.floor("us")
        return self.spark.createDataFrame(pdf[["job_id", "stage", "snapshot_id", "committed_at"]], CHECKPOINT_SCHEMA)
