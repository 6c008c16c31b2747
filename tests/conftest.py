import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geospatial_studio_pipelines_spark.session import spark_session


@pytest.fixture(scope="session")
def spark():
    s = spark_session(app_name="gsp-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def append_before_read(monkeypatch):
    """``append_before_read(path, append)`` runs ``append`` once, right
    before the next ``spark.read.parquet(path)``: a concurrent writer that
    lands after an index compaction has listed its files and before it
    reads them."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet

    def arm(path, append):
        pending = [append]

        def parquet(self, *paths, **options):
            if pending and paths == (path,):
                pending.pop()()
            return real(self, *paths, **options)

        monkeypatch.setattr(DataFrameReader, "parquet", parquet)

    return arm
