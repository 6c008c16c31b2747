"""Pipeline checkpoints, resume, metrics, lineage (FIXTURES T7)."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.operators import footprints, tiling
from geospatial_studio_pipelines_spark.plans.pipeline import METRICS_SCHEMA, Pipeline, Stage

# an Arrow fallback in createDataFrame warns and converts row by row
pytestmark = pytest.mark.filterwarnings("error::UserWarning")


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _jobs_of(spark, group, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _stages(spark):
    calls = {"fp": 0, "cells": 0, "agg": 0}

    def fp(_):
        calls["fp"] += 1
        return footprints.with_footprint(datagen.images_df(spark, 100)).drop("bytes")

    def cells(df):
        calls["cells"] += 1
        return tiling.with_cell(df, res=6)

    def agg(df):
        calls["agg"] += 1
        return df.groupBy("cell_id").agg(F.count("*").alias("n"), F.min("image_id").alias("first_image"))

    return calls, [Stage("footprints", fp), Stage("cells", cells), Stage("cell_counts", agg)]


def test_pipeline_runs_and_writes_tables(spark, warehouse):
    calls, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="job1")
    out = p.run(stages)
    assert out.count() > 0
    cps = p.checkpoints().collect()
    assert [r.stage for r in cps] == ["footprints", "cells", "cell_counts"]
    assert [r.snapshot_id for r in cps] == [1, 2, 3]
    metrics = p.metrics()
    assert metrics.schema == StructType.fromDDL(METRICS_SCHEMA)
    m = metrics.toPandas()
    assert set(m["stage"]) == {"footprints", "cells", "cell_counts"}
    assert m[m["stage"] == "footprints"]["rows"].sum() == 100
    # per-partition lineage read from the committed files: rows sum to the
    # stage's row count, bytes to the on-disk size of its part files
    for stage in ["footprints", "cells", "cell_counts"]:
        d = os.path.join(warehouse, "job1", stage)
        parts = [f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")]
        rows = m[m["stage"] == stage]
        assert rows["partition_id"].is_unique
        assert rows["rows"].sum() == spark.read.parquet(d).count()
        assert rows["bytes"].sum() == sum(os.path.getsize(os.path.join(d, f)) for f in parts)


def test_metrics_read_declares_its_schema(spark, warehouse):
    """metrics() reads with METRICS_SCHEMA declared, so building it starts
    no schema-inference job."""
    _, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobM")
    p.run(stages[:1])
    metrics, jobs = _jobs_of(spark, "metrics-read", p.metrics)
    assert jobs == 0
    assert metrics.schema == StructType.fromDDL(METRICS_SCHEMA)
    assert metrics.filter(metrics.stage == "footprints").count() > 0


def test_pipeline_resume_skips_committed_and_is_byte_identical(spark, warehouse):
    calls, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobR")
    # run only the first two stages, then "crash"
    df = p.run_stage(stages[0], None)
    p.run_stage(stages[1], df)
    assert calls == {"fp": 1, "cells": 1, "agg": 0}

    def file_bytes(stage):
        d = os.path.join(warehouse, "jobR", stage)
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    out[f] = fh.read()
        return out

    before = file_bytes("cells")

    # relaunch: fresh Pipeline object, same job — committed stages are skipped
    calls2, stages2 = _stages(spark)
    p2 = Pipeline(spark, warehouse, job_id="jobR")
    out = p2.run(stages2)
    assert calls2 == {"fp": 0, "cells": 0, "agg": 1}  # resume skipped 1+2
    assert file_bytes("cells") == before  # untouched committed snapshot
    assert out.count() > 0

    # full rerun is a no-op producing identical final data
    calls3, stages3 = _stages(spark)
    p3 = Pipeline(spark, warehouse, job_id="jobR")
    out2 = p3.run(stages3)
    assert calls3 == {"fp": 0, "cells": 0, "agg": 0}
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


def test_pipeline_distinct_jobs_isolated(spark, warehouse):
    _, stages = _stages(spark)
    Pipeline(spark, warehouse, "jobA").run(stages[:1])
    calls_b, stages_b = _stages(spark)
    Pipeline(spark, warehouse, "jobB").run(stages_b[:1])
    assert calls_b["fp"] == 1  # different job id does not reuse jobA's snapshot


def test_backend_auto_resolves_parquet_without_jars(spark, warehouse):
    """No iceberg-spark-runtime in this sandbox: backend='auto' must pick
    the parquet-ledger emulation, and iceberg_available must say why."""
    from geospatial_studio_pipelines_spark.plans.pipeline import iceberg_available

    assert iceberg_available(spark) is False
    p = Pipeline(spark, warehouse, job_id="jobAuto")
    assert p.backend == "parquet"


def test_backend_iceberg_forced_without_jars_errors(spark, warehouse):
    import pytest

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        Pipeline(spark, warehouse, job_id="jobIce", backend="iceberg")


def test_stage_write_is_unwrapped_and_metrics_append_runs_no_job(spark, warehouse):
    p = Pipeline(spark, warehouse, job_id="jobW")
    made, written = [], []
    write = p._store.write

    def spy(df, stage):
        written.append(df)
        return write(df, stage)

    def fn(_):
        made.append(spark.range(10).withColumn("y", F.col("id") * 2))
        return made[0]

    p._store.write = spy
    p.run_stage(Stage("s", fn), None)
    assert written[0] is made[0]  # the store writes the stage's own plan

    _, jobs = _jobs_of(spark, "metrics-append", lambda: p._append_metrics("s", 1.0, {0: (10, 100)}))
    assert jobs == 0


def test_stage_output_nan_is_committed_as_nan(spark, warehouse):
    def fn(_):
        k = F.col("id")
        x = F.when(k == 1, F.lit(float("nan"))).when(k == 2, F.lit(None).cast("double"))
        return spark.range(3).select(k, x.otherwise(k.cast("double")).alias("x"))

    out = Pipeline(spark, warehouse, job_id="jobNaN").run_stage(Stage("vals", fn), None)
    got = {r.id: r.x for r in out.collect()}
    assert got[0] == 0.0
    assert got[1] is not None and math.isnan(got[1])
    assert got[2] is None


def test_read_back_declares_the_ledger_schema(spark, warehouse):
    """Fresh or resumed, a parquet snapshot is read with the schema its
    ledger entry recorded (no schema-inference job), and that schema is the
    one Spark infers from the files. An entry without one still reads."""
    _, stages = _stages(spark)
    p = Pipeline(spark, warehouse, job_id="jobS")
    read, declared = p._store.read, []
    p._store.read = lambda stage, schema: declared.append(schema) or read(stage, schema)
    cur = None
    for st in stages:
        cur = p.run_stage(st, cur)
        assert cur.schema == spark.read.parquet(os.path.join(warehouse, "jobS", st.name)).schema
    assert len(declared) == 3 and None not in declared

    _, again = _stages(spark)
    for st in again:
        path = os.path.join(warehouse, "jobS", st.name)
        df, jobs = _jobs_of(spark, f"resume-{st.name}", lambda: Pipeline(spark, warehouse, "jobS").run_stage(st, None))
        assert jobs == 0
        assert df.schema == spark.read.parquet(path).schema

    # a ledger entry written before schemas were recorded
    ledger = os.path.join(warehouse, "_ledger", "jobS__cells.json")
    with open(ledger) as f:
        entry = json.load(f)
    del entry["schema"]
    with open(ledger, "w") as f:
        json.dump(entry, f)
    path = os.path.join(warehouse, "jobS", "cells")
    df, jobs = _jobs_of(spark, "legacy-entry", lambda: Pipeline(spark, warehouse, "jobS").run_stage(again[1], None))
    assert jobs == 1  # Spark infers the schema
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, spark.read.parquet(path).collect()))
