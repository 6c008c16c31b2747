"""Session factory fixed costs (session.py): the package zip, the
zip-archive gate installed in Python workers and the DataFrame-debugging
default."""
import importlib
import os
import sys
import tempfile
import time
import zipfile
import zipimport
from types import SimpleNamespace

import pandas as pd
import pytest

from geospatial_studio_pipelines_spark import session as S

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"

needs_eager_rereads = pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 13),
    reason="only Python 3.10-3.12 re-read a zip archive on invalidate_caches",
)


def _package_tree(root, body, mtime):
    pkg = root / "geospatial_studio_pipelines_spark"
    pkg.mkdir(parents=True)
    for name in ("__init__.py", "session.py"):
        (pkg / name).write_text(body)
        os.utime(pkg / name, (mtime, mtime))
    return pkg / "session.py"


def test_package_zip_ships_each_checkouts_own_code(tmp_path, monkeypatch):
    """Two checkouts share a temp directory; the second one's sources are
    older than the first one's zip. Each must still ship its own bytes."""
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    now = time.time()
    trees = [
        _package_tree(tmp_path / "a", "A = 1\n", now),
        _package_tree(tmp_path / "b", "B = 2\n", now - 3600),
    ]
    shipped = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    for src in trees:
        monkeypatch.setattr(S, "__file__", str(src))
        S._ship_package(fake)
    for src, zip_path in zip(trees, shipped):
        with zipfile.ZipFile(zip_path) as zf:
            assert zf.read("geospatial_studio_pipelines_spark/session.py") == src.read_bytes()


@needs_eager_rereads
def test_zip_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("gsp_gate_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    # teardown puts the eager method back
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    try:
        assert importlib.import_module("gsp_gate_a").A == 1
        S.gate_zip_rereads()
        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads  # unchanged: not re-read

        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("gsp_gate_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1  # rewritten: re-read once
        assert importlib.import_module("gsp_gate_b").B == 2
    finally:
        for mod in ("gsp_gate_a", "gsp_gate_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(str(archive), None)


@needs_eager_rereads
def test_engine_udf_worker_has_the_zip_gate(spark):
    ship = S._ship_package

    def probe(batches):
        import zipimport

        from pyspark import SparkFiles

        # the UDF carries an engine function, so unpickling it in the worker
        # imports the package, as every engine UDF does
        assert ship is not None
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "worker": [SparkFiles._is_running_on_worker],
                "gated": [hasattr(zipimport.zipimporter.invalidate_caches, "gated")],
            }
        )

    rows = spark.range(8, numPartitions=4).mapInPandas(probe, "worker boolean, gated boolean").collect()
    assert len(rows) == 4
    assert all(r.worker and r.gated for r in rows)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "gated")  # never on the driver


def test_dataframe_debugging_off_unless_extra_conf_sets_it(spark, monkeypatch):
    assert spark.conf.get(DEBUGGING) == "false"
    # the conf is static: read the factory's builder options, not a session
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    monkeypatch.setattr(S, "_ship_package", lambda _: None)
    assert S.spark_session(master="local[1]")[DEBUGGING] == "false"
    assert S.spark_session(master="local[1]", extra_conf={DEBUGGING: "true"})[DEBUGGING] == "true"
