"""Shared run machinery: per-run directories, the Spark session, host CPU
accounting and the result line.

Every path the benchmark writes lies under ``<checkout>/.perfbench/``:
``inputs/`` keeps the inputs generated once per seed, and ``runs/<id>/``
holds one run's temp, shuffle, warehouse, pipeline, index and event-log
directories and is removed when the run ends, failure included.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = "geospatial_studio_pipelines_spark"
#: driver heap: the inputs are small, and the host's memory is shared
DRIVER_MEM = "2g"


def local_cores() -> int:
    """``k`` of ``local[k]``: at most 4 and never more than the CPUs this
    process may run on, so a run never oversubscribes the host."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


class RunDirs:
    """One run's scratch tree, removed by :meth:`remove`."""

    def __init__(self, label: str):
        self.root = os.path.join(STATE, "runs", f"{label}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "pipeline", "index", "eventlog"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, sub: str) -> str:
        return os.path.join(self.root, sub)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def point_env_at(dirs: RunDirs) -> None:
    """Route every temp/shuffle file of this process, the JVM and the Python
    workers into the run directory (the workers inherit the environment)."""
    os.environ["TMPDIR"] = dirs.path("tmp")
    # the small JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs.path('tmp')}"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs.path("local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(dirs: RunDirs, trace: bool, app: str):
    """The engine's session at an explicit ``local[k]`` with the progress bar
    off and, for traced runs, an uncompressed single-file event log in the
    run directory."""
    from geospatial_studio_pipelines_spark.session import spark_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.path('tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs.path("eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = spark_session(app_name=app, master=f"local[{local_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited (its
    Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        stat = fh.read()
    return stat[stat.rindex(")") + 2 :].split()


def cpu_seconds() -> tuple[float, float]:
    """(CPU seconds the whole host has been busy, CPU seconds of this process
    and its descendants). Their difference over a measurement is the CPU
    other processes took meanwhile, a sign of a noisy host."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        f = list(map(int, fh.readline().split()[1:]))
    host = (sum(f[:8]) - f[3] - f[4]) / hz  # all but idle and iowait
    kids = _children_map()
    todo, mine = [os.getpid()], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            fields = _stat_fields(p)
        except OSError:
            continue
        # own user + system time, and that of its children already reaped
        # (Python workers that exited), fields 14-17 of /proc/<pid>/stat
        mine += sum(int(f) for f in fields[11:15])
    return host, mine / hz


# ------------------------------------------------------------------ stats


def median(xs) -> float:
    return float(statistics.median(xs))


class Workload:
    """What ``run.py`` drives: ``op(arg) -> (units, output)`` is one timed
    operation, ``check(arg, output)`` raises :class:`CheckFailed`, and
    ``round_args(r)`` gives round ``r``'s op arguments (``None`` when the
    inputs are used up)."""

    #: untimed rounds after the warm-up op, before the first timed op
    settle_rounds = 0
    #: timed rounds a run holds at least (a traced run holds at least two)
    min_rounds = 1
    #: check every op's output after the last timed op, in one pass, with
    #: ``check_all([(arg, output), ...])`` (one entry per op: ``None`` or the
    #: :class:`CheckFailed` message) instead of ``check`` after each op
    defer_checks = False

    @staticmethod
    def prepare_once(inp: str, session) -> None:
        """One-time preparation that needs Spark; ``session()`` is a context
        manager giving a session of its own."""

    def traced_counts(self, arg, out) -> None:
        """Counts a traced run takes after an op, outside every span."""


def inside_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of points against a closed ring (the checks'
    own point-in-polygon)."""
    a, b = ring[:-1], ring[1:]
    px, py = np.asarray(px, dtype=np.float64)[:, None], np.asarray(py, dtype=np.float64)[:, None]
    straddle = (a[:, 1] > py) != (b[:, 1] > py)
    dy = np.where(b[:, 1] == a[:, 1], 1.0, b[:, 1] - a[:, 1])
    xint = a[:, 0] + (py - a[:, 1]) * (b[:, 0] - a[:, 0]) / dy
    return (np.sum(straddle & (px < xint), axis=1) % 2) == 1


class CheckFailed(Exception):
    """An op's output disagrees with the independent computation."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result: the last line of standard output."""
    sys.stdout.flush()
    print(
        json.dumps(
            {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
        ),
        flush=True,
    )


def now() -> float:
    return time.perf_counter()
