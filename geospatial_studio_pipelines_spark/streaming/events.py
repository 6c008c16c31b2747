"""Structured Streaming operators (SURVEY.md §2.9).

The reference has no streaming engine — work arrives via a Postgres poll
loop (8 + U(0,4) s sleep, ``orchestrate_wrapper.py:575-579``) and exactly-once
step transitions via a status machine. The Spark-native equivalents:

* **micro-batch ingestion** — a file-source stream over the events table
  with ``trigger(availableNow=True)``: processes everything present and
  stops, the idempotent batch-catchup mode that replaces the poll loop
* **late-data handling** — event-time watermark + windowed aggregation
  (the reference has no late-data story at all; new work here)
* **exactly-once** — checkpointLocation gives the same resume contract the
  engine's snapshot ledger gives batch stages
* **stateful sessionization** — ``applyInPandasWithState`` with processing
  timeouts for custom per-key state (gap-based sessions), the streaming twin
  of the batch ``q_event_sessions`` window query.

Batch/stream parity: ``hourly_rollup_stream`` over a static copy of the
events table must equal the batch ``q_events_hourly_rollup`` (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def read_events_stream(spark: SparkSession, dir_path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-source micro-batch stream over a directory of events parquet."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def hourly_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Windowed count/sum per (hour, event_type) with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("hour"), "event_type", "n", "sum_value")
    )


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, query_name: str = "rollup") -> DataFrame:
    """Run the streaming query in availableNow mode to completion, return the
    result from the in-memory sink (batch-catchup semantics)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def dedup_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup (the LLM-ingest front gate as a stream): md5
    fingerprint + ``dropDuplicates`` keyed on it — state carries ONE row per
    distinct document across micro-batches, so a re-delivered object (the
    at-least-once file/queue source contract) emits exactly once.

    With ``event_time_col`` set, uses ``dropDuplicatesWithinWatermark`` so
    state ages out past the watermark — the 10^12-scale mode (unbounded
    dedup state is a driver OOM by schedule; bounded-window dedup + a
    periodic batch `exact_duplicates` sweep is the standard split).

    The state key is the FULL 128-bit md5: a 64-bit truncation at 10^12
    docs expects ~10^4 birthday collisions, each silently dropping a
    distinct document; the full digest makes the collision rate ~n²/2^129
    (≪ 1 at any feasible corpus) for 16 extra bytes of state per row.
    """
    out = docs_stream.withColumn("fp", F.md5(F.col(text_col)))
    if event_time_col:
        return out.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def run_available_now_append(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str = "out"
) -> DataFrame:
    """availableNow runner for APPEND-mode streams (dedup, joins — anything
    non-aggregating); ``run_available_now`` covers complete-mode aggs."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def tile_join_stream(
    spark: SparkSession,
    images_dir: str,
    aoi_pdf,
    schema: str = "image_id string, w int, h int, phash long",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming twin of the flagship path: a file-source micro-batch stream
    of image metadata → footprint expressions → broadcast R-tree intersects
    join. The join is a stateless mapInArrow stage, so it runs unchanged on
    a streaming DataFrame — the engine's ingest-time tile assignment
    (reference: the poll-loop claiming new tasks, ``orchestrate_wrapper``):
    new image files landing in ``images_dir`` stream straight into
    (image_id, aoi_id) assignments with no batch re-scan of the corpus."""
    from ..operators import footprints, spatial_join

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(images_dir)
    )
    fp = footprints.with_footprint(stream)
    return spatial_join.broadcast_spatial_join(fp, aoi_pdf)
