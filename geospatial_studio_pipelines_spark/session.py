"""SparkSession factory tuned for the engine.

Design notes (100 TB target):

* Arrow execution is mandatory — every custom operator is a vectorized
  pandas UDF / ``mapInPandas`` / ``applyInPandas``; row-at-a-time Python UDFs
  are banned (BASELINE.json input_hint).
* AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  We still salt explicitly for pathological spatial skew (a single AOI
  covering a continent — the analog of the reference's global land-polygon
  layer, postprocess_generic_helper_functions.py:35), because AQE can only
  split *join* skew, not a skewed ``applyInPandas`` group.
* ``maxRecordsPerBatch`` bounds decoded-image memory inside Arrow UDF
  batches — the Spark-side fix for the reference's pod-OOM failure mode
  (images decoded one at a time with no memory budget).
* shuffle partitions default to 2× cores locally; on a real cluster this is
  set per-job to ≈ input_bytes / 128MB and AQE coalesces from there.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import zipfile

from pyspark.sql import SparkSession


def spark_session(
    app_name: str = "gsp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``arrow_batch_rows`` caps rows per Arrow batch entering pandas UDFs.
    256 rows × ~1 MB decoded image ≈ 256 MB peak per task — tune down for
    larger imagery. Relational-only jobs may raise it.
    """
    if master is None:
        master = _default_master()
    cores = _parallelism_of(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing stays at Spark defaults (parallelismFirst). A finer
        # advisoryPartitionSizeInBytes (16m + parallelismFirst=false) is a
        # PER-JOB lever, not a session default: it buys ~20% on reduce
        # stages that mix a JVM hash probe with an Arrow/Python kernel
        # (partitioned spatial join — work skew invisible to byte-based
        # sizing, one-wave schedules gated on the slowest task), but it
        # TRIPLES relational pipelines with many small shuffles (measured:
        # jaccard_near_dups 22s → 60s at sf0.1). Jobs set it via
        # spark.conf.set(...) before the action — AQE reads it per query.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # broadcast threshold: AOI dimension tables are small relative to the
        # images fact table; let Spark auto-broadcast up to 64 MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or _default_local_dir()
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _default_local_dir() -> str | None:
    """Prefer a tmpfs for shuffle/spill files. Disk-backed /tmp serializes
    concurrent shuffle writers on page-cache writeback: measured 2x wall-time
    inflation (and inverted 8-vs-32-core scaling) on the partitioned spatial
    join's map stage. On a real cluster this corresponds to provisioning
    local SSDs / ramdisk for spark.local.dir — standard practice."""
    for base in ("/dev/shm",):
        if os.path.isdir(base) and os.access(base, os.W_OK):
            path = os.path.join(base, "spark-local")
            os.makedirs(path, exist_ok=True)
            _sweep_orphaned_local_dirs(path)
            return path
    return None


def _sweep_orphaned_local_dirs(path: str) -> None:
    """Remove shuffle dirs (spark-*/blockmgr-*) left behind by crashed JVMs.

    On a tmpfs these orphans hold RAM, not disk: a killed child JVM leaves
    its whole shuffle footprint resident (observed: 118 GiB of orphans from
    four dead benches starved every subsequent JVM into allocation-failure
    death). A running JVM cleans its own dirs on shutdown via its hook; this
    sweep only handles dirs whose owner never got to run that hook. Gates:
    wipe only when NO java process is alive on the host — the single-host
    twin of a cluster manager reaping app-scoped local dirs after app death
    — AND only entries older than ``_SWEEP_MIN_AGE_SEC``. The age gate
    closes the TOCTOU window between the liveness check and the rmtree: a
    concurrent session that created its dirs but whose JVM has not exec'd
    yet (back-to-back bench launches) has fresh mtimes and is skipped.
    Best-effort: any error leaves the dir for the next sweep."""
    try:
        if _any_java_alive():
            return  # a live JVM may own entries; don't touch
        now = time.time()
        for entry in os.listdir(path):
            if not entry.startswith(("spark-", "blockmgr-")):
                continue
            full = os.path.join(path, entry)
            try:
                if now - os.stat(full).st_mtime < _SWEEP_MIN_AGE_SEC:
                    continue  # too young — may belong to a JVM mid-launch
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass


#: orphan shuffle dirs younger than this are never swept — wide enough to
#: cover any JVM-launch window, narrow enough that a crashed bench's tmpfs
#: footprint is reclaimed before the next bench round needs the RAM
_SWEEP_MIN_AGE_SEC = 600


def _any_java_alive() -> bool:
    try:
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        return True
            except OSError:
                continue
        return False
    except OSError:
        return True  # can't tell — err on not deleting


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the programmatic twin of
    ``spark-submit --py-files``, north rule launch mode). Without it, UDF
    workers fail with ModuleNotFoundError whenever the driver script runs
    outside the repo directory."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(tempfile.gettempdir(), f"{pkg_name}_pyfiles.zip")
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _default_master() -> str:
    """$SPARK_GRAFT_MASTER, else local[$SPARK_GRAFT_CPUS], else every CPU."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return os.environ.get("SPARK_GRAFT_MASTER") or (f"local[{cpus}]" if cpus else "local[*]")


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        return int(inner)
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)


def stop_all() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
