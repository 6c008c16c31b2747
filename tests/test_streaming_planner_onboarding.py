"""Streaming batch-parity, planner parity, onboarding ops."""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark import contracts, datagen
from geospatial_studio_pipelines_spark.geo import wkb
from geospatial_studio_pipelines_spark.operators import onboarding
from geospatial_studio_pipelines_spark.plans import planner
from geospatial_studio_pipelines_spark.streaming import events as stream_events

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    # copy events parquet into a stream dir, run availableNow to completion
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    stream_dir = str(tmp_path / "stream_in")
    src.repartition(4).write.parquet(stream_dir)
    stream = stream_events.read_events_stream(spark, stream_dir)
    rolled = stream_events.hourly_rollup(stream)
    got = stream_events.run_available_now(rolled, str(tmp_path / "ckpt"), "rollup_t")
    batch = contracts.q_events_hourly_rollup(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b


def test_planner_matches_oracle(spark):
    req = {
        "inference_id": "inf-01",
        "spatial_domain": {
            "bbox": [[-10.0, 40.0, -9.0, 40.8]],
            "polygons": [wkb.dumps_bbox_polygon(100.0, -5.0, 100.2, -4.8)],
        },
        "temporal_domain": ["2024-06-01", "2024-06-10_2024-06-20"],
        "resolution_m": 10.0,
    }
    plan = planner.plan_tiles(spark, req)
    optimized = plan._jdf.queryExecution().optimizedPlan().toString()
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join", "LocalRelation"):
        assert node not in optimized
    got = plan.toPandas()
    exp = planner.plan_oracle(req)
    assert len(got) == len(exp)
    rows = {(r.aoi_idx, r.tile_x, r.tile_y, str(r.date_start)): r for r in got.itertuples()}
    assert set(rows) == {(e["aoi_idx"], e["tile_x"], e["tile_y"], e["date_start"]) for e in exp}
    for e in exp:
        r = rows[(e["aoi_idx"], e["tile_x"], e["tile_y"], e["date_start"])]
        bbox = (r.tile_minx, r.tile_miny, r.tile_maxx, r.tile_maxy)
        assert all(abs(g - w) <= 1e-9 for g, w in zip(bbox, e["bbox"]))
        assert (r.tile_w_px, r.tile_h_px) == e["px"]
        assert str(r.date_end) == e["date_end"]
    assert got["task_id"].is_unique
    # all tiles within pixel bounds
    assert (got["tile_w_px"] <= 2400).all() and (got["tile_h_px"] <= 2400).all()


def test_planner_rejects_bad_input(spark):
    with pytest.raises(ValueError):
        planner.parse_temporal_domain({"temporal_domain": ["06/01/2024"]})
    with pytest.raises(ValueError):
        planner.parse_spatial_domain({"spatial_domain": {}})


def test_stem_join_check(spark):
    data = spark.createDataFrame([("a",), ("b",), ("c",)], "stem string")
    labels = spark.createDataFrame([("a",), ("b",), ("d",)], "stem string")
    matched, unmatched = onboarding.stem_join_check(data, labels)
    assert matched.count() == 2
    assert sorted(r.stem for r in unmatched.collect()) == ["c", "d"]


def test_size_consistency(spark):
    imgs = datagen.images_df(spark, 64).select("image_id", "w", "h")
    hist, outliers = onboarding.size_consistency(imgs)
    total = sum(r.n for r in hist.collect())
    assert total == 64
    assert outliers.count() <= 10


def test_splits(spark):
    df = datagen.images_df(spark, 200).select("image_id")
    parts = onboarding.train_test_val_split(df)
    counts = {k: v.count() for k, v in parts.items()}
    assert sum(counts.values()) == 200
    assert counts["train"] > counts["test"]
    # deterministic split: stable across repartitioning
    a = onboarding.deterministic_split(df, "image_id").select("image_id", "split")
    b = onboarding.deterministic_split(df.repartition(7), "image_id").select("image_id", "split")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    fracs = a.groupBy("split").count().toPandas().set_index("split")["count"]
    assert abs(fracs.get("train", 0) / 200 - 0.6) < 0.15


def test_extension_and_date_filters(spark):
    files = spark.createDataFrame(
        [
            ("s3://b/scene_2024-03-01.tif",),
            ("s3://b/_MACOSX/junk.tif",),
            ("s3://b/notes.txt",),
            ("s3://b/pack.zip",),
            ("s3://b/no_date.tiff",),
        ],
        "path string",
    )
    kept = onboarding.extension_filter(files)
    assert kept.count() == 3
    dated = onboarding.with_filename_date(kept)
    rows = {r.path: r.file_date for r in dated.collect()}
    assert str(rows["s3://b/scene_2024-03-01.tif"]) == "2024-03-01"
    assert rows["s3://b/no_date.tiff"] is None


def test_streaming_tile_join_matches_batch(spark, tmp_path):
    """Flagship broadcast join under Structured Streaming: metadata files
    streamed in micro-batches produce the exact batch pair set."""
    from geospatial_studio_pipelines_spark import datagen
    from geospatial_studio_pipelines_spark.operators import footprints, spatial_join
    from geospatial_studio_pipelines_spark.streaming import events as se

    n = 300
    imgs = datagen.images_df(spark, n).select("image_id", "w", "h", "phash")
    src = str(tmp_path / "img_stream")
    # two file drops -> at least two micro-batches with maxFilesPerTrigger=1
    imgs.filter(F.col("image_id") < "img-00000150").coalesce(1).write.mode("overwrite").parquet(src)
    imgs.filter(F.col("image_id") >= "img-00000150").coalesce(1).write.mode("append").parquet(src)
    aois = datagen.aoi_pdf(25)
    out = se.tile_join_stream(spark, src, aois, max_files_per_trigger=1)
    q = (
        out.writeStream.format("memory")
        .queryName("tile_assign")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.image_id, r.aoi_id) for r in spark.sql("SELECT * FROM tile_assign").collect()}
    batch = spatial_join.broadcast_spatial_join(footprints.with_footprint(imgs), aois)
    exp = {(r.image_id, r.aoi_id) for r in batch.collect()}
    assert got == exp and len(exp) > 0


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """dedup_stream emits each distinct document exactly once even when
    duplicates arrive in DIFFERENT micro-batches (state spans triggers) —
    the at-least-once redelivery case batch dedup can't model."""
    import pandas as pd

    src = str(tmp_path / "docs")
    texts = [f"document body number {i}" for i in range(30)]
    # three files: file2 and file3 re-deliver half of the previous file
    chunks = [texts[:15], texts[10:25], texts[20:30] + texts[:5]]
    for i, chunk in enumerate(chunks):
        pdf = pd.DataFrame(
            {"doc_id": range(i * 100, i * 100 + len(chunk)), "text": chunk}
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    )
    out = stream_events.run_available_now_append(
        stream_events.dedup_stream(stream), str(tmp_path / "ckpt"), "dedup_out"
    ).collect()
    got_texts = [r.text for r in out]
    assert sorted(got_texts) == sorted(texts)  # every distinct doc exactly once
    assert len(out) == 30  # 15+15+15 arrived, 15 cross-batch dupes dropped
