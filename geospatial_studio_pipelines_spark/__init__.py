"""geospatial_studio_pipelines_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of
``terrastackai/geospatial-studio-pipelines`` (reference surveyed in SURVEY.md) as an
idiomatic Spark DataFrame engine:

* H3-style hex + S2 cell-ID encoding over image footprints (vectorized pandas/Arrow UDFs)
* two-phase spatial joins (cell equi-join prune + broadcast packed-R-tree exact test)
* kNN via cell-ring expansion with per-partition local heaps
* raster<->vector ops with affine windowed transforms
* mosaic aggregations, masking, regularization
* checkpointed, resumable multi-stage pipelines with per-partition lineage + metrics

Everything is pure ``pyspark.sql`` + Arrow-vectorized UDFs — deployable with
``spark-submit --py-files`` (no JVM extensions, no Catalyst plugins).
"""

from pyspark import SparkFiles as _SparkFiles

__version__ = "0.1.0"

# a worker imports this package when it unpickles an engine UDF: from then
# on its tasks stop re-reading unchanged import archives (session.py)
if _SparkFiles._is_running_on_worker:
    from .session import gate_zip_rereads

    gate_zip_rereads()
