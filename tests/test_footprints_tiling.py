"""Expression/numpy parity for footprints, cell assignment, tiling, windows."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.functions import spatial as S
from geospatial_studio_pipelines_spark.index import hexgrid as hg
from geospatial_studio_pipelines_spark.operators import footprints, tiling


@pytest.fixture(scope="module")
def images_fp(spark):
    return footprints.with_footprint(datagen.images_df(spark, 200)).cache()


def _oracle_fp(n):
    pdf = datagen.images_pdf(n)
    phash = pdf["phash"].to_numpy()
    lon = -180.0 + (phash % 360_000) / 1000.0
    lat = -60.0 + ((phash // 360_000) % 120_000) / 1000.0
    lat_rad = np.radians(lat)
    lat_len = 111132.954 - 559.822 * np.cos(2 * lat_rad) + 1.175 * np.cos(4 * lat_rad)
    lon_len = (np.pi / 180.0) * np.cos(lat_rad) * 6378137.0
    half_w = pdf["w"].to_numpy() / 2.0 * (10.0 / lon_len)
    half_h = pdf["h"].to_numpy() / 2.0 * (10.0 / lat_len)
    pdf["lon"], pdf["lat"] = lon, lat
    pdf["minx"], pdf["maxx"] = lon - half_w, lon + half_w
    pdf["miny"], pdf["maxy"] = lat - half_h, lat + half_h
    return pdf


def test_footprint_matches_oracle(images_fp):
    got = images_fp.select("image_id", "lon", "lat", "minx", "miny", "maxx", "maxy").toPandas()
    got = got.sort_values("image_id").reset_index(drop=True)
    exp = _oracle_fp(200).sort_values("image_id").reset_index(drop=True)
    for c in ["lon", "lat", "minx", "miny", "maxx", "maxy"]:
        assert np.allclose(got[c], exp[c], rtol=0, atol=1e-12), c


def test_center_lat_exact_for_large_phash(spark):
    """FIXTURES.md's integer formula holds where a double cannot carry the
    phash exactly (phash > 2^53)."""
    phash = np.random.default_rng(53).integers(2**53, 2**63 - 1, size=4000, dtype=np.int64)
    got = (
        spark.createDataFrame([(int(v),) for v in phash], "phash long")
        .select("phash", S.center_lat(F.col("phash")))
        .toPandas()
        .sort_values("phash")
    )
    want = -60.0 + ((got["phash"].to_numpy() // 360_000) % 120_000) / 1000.0
    assert np.array_equal(got["lat"].to_numpy(), want)


@pytest.mark.parametrize("res", [5, 9, 12])
def test_hex_cell_expression_matches_numpy(images_fp, res):
    got = images_fp.select("image_id", "lat", "lon", S.hex_cell(F.col("lat"), F.col("lon"), res).alias("c")).toPandas()
    exp = hg.latlng_to_cell(got["lat"].to_numpy(), got["lon"].to_numpy(), res)
    assert np.array_equal(got["c"].to_numpy(), exp)


def test_adaptive_cell_res_band(images_fp):
    got = tiling.with_cell(images_fp).select("res", "cell_id", "lat", "lon").toPandas()
    assert got["res"].between(5, 12).all()
    exp = hg.latlng_to_cell(got["lat"].to_numpy(), got["lon"].to_numpy(), got["res"].to_numpy())
    assert np.array_equal(got["cell_id"].to_numpy(), exp)
    # footprint extents are 0.006°–0.05° → cell size ≈ extent lands at res 6–9
    assert got["res"].min() >= 6 and got["res"].max() <= 9


def test_window_offsets_semantics():
    assert tiling.window_offsets(224) == [0]
    assert tiling.window_offsets(100) == [0]
    assert tiling.window_offsets(432) == [0, 208]
    assert tiling.window_offsets(433) == [0, 208, 209]
    assert tiling.window_offsets(640) == [0, 208, 416]
    assert tiling.window_offsets(641) == [0, 208, 416, 417]


def test_with_windows_matches_oracle(spark, images_fp):
    got = (
        tiling.with_windows(images_fp.select("image_id", "w", "h"))
        .select("image_id", "w", "h", "win_col_off", "win_row_off")
        .toPandas()
    )
    pdf = datagen.images_pdf(200)
    exp = set()
    for _, r in pdf.iterrows():
        for cx in tiling.window_offsets(int(r["w"])):
            for cy in tiling.window_offsets(int(r["h"])):
                exp.add((r["image_id"], cx, cy))
    assert set(zip(got["image_id"], got["win_col_off"], got["win_row_off"])) == exp


def test_grid_tiles_vs_oracle(spark):
    # synthetic large bboxes that actually exceed 2400 px
    rows = [
        ("big-0", -10.0, 40.0, -9.0, 40.8),  # ~0.8° ≈ 8900 px
        ("big-1", 100.0, -5.0, 100.3, -4.7),
        ("small-0", 5.0, 5.0, 5.01, 5.01),  # below 244 px → padded
    ]
    df = spark.createDataFrame(rows, "image_id string, minx double, miny double, maxx double, maxy double")
    got = tiling.grid_tiles_expr(df).select(
        "image_id", "tile_x", "tile_y", "tile_minx", "tile_miny", "tile_maxx", "tile_maxy", "tile_w_px", "tile_h_px"
    ).toPandas()
    for iid, a, b, c, d in rows:
        exp = tiling.tile_bbox_oracle(a, b, c, d)
        sub = got[got["image_id"] == iid].sort_values(["tile_x", "tile_y"]).reset_index(drop=True)
        assert len(sub) == len(exp), (iid, len(sub), len(exp))
        for k, (tx, ty, ea, eb, ec, ed, ew, eh) in enumerate(sorted(exp)):
            r = sub.iloc[k]
            assert (r["tile_x"], r["tile_y"]) == (tx, ty)
            assert math.isclose(r["tile_minx"], ea, abs_tol=1e-9)
            assert math.isclose(r["tile_maxy"], ed, abs_tol=1e-9)
            assert abs(r["tile_w_px"] - ew) <= 1 and abs(r["tile_h_px"] - eh) <= 1
    # every produced tile ≤ 2400 px and ≥ 244-ish after padding
    assert (got["tile_w_px"] <= tiling.MAX_TILE_PX).all()
    assert (got["tile_h_px"] <= tiling.MAX_TILE_PX).all()
    padded = got[got["image_id"] == "small-0"]
    assert (padded["tile_w_px"] >= 2 * tiling.PAD_HALF_PX - 1).all()


def test_explode_cover_cells_superset(spark, images_fp):
    res = 5
    got = tiling.explode_cover_cells_expr(
        images_fp.select("image_id", "minx", "miny", "maxx", "maxy"), res
    ).toPandas()
    pdf = _oracle_fp(200)
    # each image's center cell must be among its covering cells
    centers = hg.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), res)
    cover = got.groupby("image_id")["cell_id"].apply(set)
    for iid, c in zip(pdf["image_id"], centers):
        assert int(c) in cover[iid]
