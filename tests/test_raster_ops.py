"""Raster operators: decibels, scaling, impute, resize, pseudo-inference,
mosaic aggs, masking chain, overlap-average — vs numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_studio_pipelines_spark import datagen
from geospatial_studio_pipelines_spark.codecs.image import decode_image, encode_image, psnr
from geospatial_studio_pipelines_spark.operators import masking, mosaic, raster


def test_impute_nans_array():
    arr = np.full((8, 8, 1), 5.0, dtype=np.float32)
    arr[2, 2, 0] = raster.NODATA
    arr[7, 7, 0] = np.float32(np.finfo(np.float32).max)
    out = raster.impute_nans_array(arr)
    assert out[2, 2, 0] == 5.0 and out[7, 7, 0] == 5.0
    with pytest.raises(ValueError):
        raster.impute_nans_array(np.full((4, 4, 1), raster.NODATA, dtype=np.float32))


def test_resize_identity_and_downscale():
    arr = datagen.fixture_pixels(7, 16, 12).astype(np.float32)
    assert np.array_equal(raster.resize_array(arr, 12, 16, "nearest"), arr)
    down = raster.resize_array(arr, 6, 8, "nearest")
    assert down.shape == (6, 8, 3)
    bi = raster.resize_array(arr, 24, 32, "bilinear")
    assert bi.shape == (24, 32, 3)
    assert abs(float(bi.mean()) - float(arr.mean())) < 2.0


def test_mosaic_reduce_methods():
    t = np.array(
        [
            [[[1.0], [np.nan]], [[3.0], [4.0]]],
            [[[5.0], [6.0]], [[np.nan], [8.0]]],
            [[[9.0], [10.0]], [[11.0], [np.nan]]],
        ]
    )  # (3 tiles, 2, 2, 1)
    assert np.allclose(mosaic.mosaic_reduce(t, "average")[:, :, 0], [[5, 8], [7, 6]])
    assert np.allclose(mosaic.mosaic_reduce(t, "min")[:, :, 0], [[1, 6], [3, 4]])
    assert np.allclose(mosaic.mosaic_reduce(t, "max")[:, :, 0], [[9, 10], [11, 8]])
    assert np.allclose(mosaic.mosaic_reduce(t, "median")[:, :, 0], [[5, 8], [7, 6]])
    assert np.allclose(mosaic.mosaic_reduce(t, "first")[:, :, 0], [[1, 6], [3, 4]])
    assert np.allclose(mosaic.mosaic_reduce(t, "last")[:, :, 0], [[9, 10], [11, 8]])
    allnan = np.full((2, 1, 1, 1), np.nan)
    assert mosaic.mosaic_reduce(allnan, "first")[0, 0, 0] == mosaic.NODATA


def test_mosaic_spark_group(spark):
    rows = []
    for iid, vals in [("a", [[1, 2], [3, 4]]), ("b", [[5, 6], [7, 8]])]:
        arr = np.asarray(vals, dtype=np.float32)[:, :, None]
        rows.append(("cellX", iid, encode_image(arr, "raw")))
    df = spark.createDataFrame(rows, "cell string, image_id string, bytes binary")
    out = mosaic.mosaic(df, ["cell"], "average").collect()
    assert len(out) == 1 and out[0]["n_tiles"] == 2
    got = decode_image(bytes(out[0]["mosaic_bytes"]))[:, :, 0]
    assert np.allclose(got, [[3, 4], [5, 6]])


def test_masking_chain_matches_oracle(spark):
    n = 40
    imgs = datagen.images_df(spark, n)
    preds = raster.pseudo_inference(imgs, "bytes", "pred_bytes").select("image_id", "w", "h", "pred_bytes")
    qa = datagen.qa_df(spark, n)
    got = masking.apply_mask_chain(preds, qa).select("image_id", "masked_bytes").toPandas()
    qa_pdf = datagen.qa_pdf(n).set_index("image_id")
    assert len(got) == n // 2  # only even-i images have QA rows
    for _, row in got.iterrows():
        i = int(row["image_id"].split("-")[1])
        # decode the stored bytes (jpeg rows are lossy — the engine sees
        # decoded pixels, so the oracle must too)
        pix = decode_image(datagen.image_row(i)["bytes"])
        pred = (pix.astype(np.float32).mean(axis=2, keepdims=True) / 255.0 > 0.5).astype(np.float32)
        qa_arr = decode_image(bytes(qa_pdf.loc[row["image_id"], "qa_bytes"]))
        exp = masking.mask_chain_oracle(pred, qa_arr, "s2")
        assert np.array_equal(decode_image(bytes(row["masked_bytes"])), exp)


def test_hls_lut_matches_reference_bitstring():
    lut = masking.hls_bad_lut("00001111")
    for v in range(256):
        bit_val = list(format(v, "b").zfill(8))
        ref_bad = len([1 for i, j in zip(bit_val, list("00001111")) if i == "1" and j == "1"]) > 0
        assert lut[v] == ref_bad, v


def test_overlap_average_reconstructs_pointwise_model(spark):
    # window the input, run pseudo-inference per window, reassemble —
    # must equal whole-image pseudo-inference exactly (model is pointwise)
    from geospatial_studio_pipelines_spark.operators import tiling

    imgs = datagen.images_df(spark, 12)
    wins = tiling.with_windows(imgs)

    def crop_and_infer(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arr = decode_image(bytes(row["bytes"]))
                win = raster.crop_window(
                    arr, int(row["win_col_off"]), int(row["win_row_off"]), int(row["win_w"]), int(row["win_h"])
                )
                pred = (win.astype(np.float32).mean(axis=2, keepdims=True) / 255.0 > 0.5).astype(np.float32)
                rows.append(
                    {
                        "image_id": row["image_id"],
                        "w": row["w"],
                        "h": row["h"],
                        "win_col_off": row["win_col_off"],
                        "win_row_off": row["win_row_off"],
                        "win_pred_bytes": encode_image(pred, "raw"),
                    }
                )
            yield pd.DataFrame(rows)

    win_preds = wins.mapInPandas(
        crop_and_infer,
        "image_id string, w int, h int, win_col_off int, win_row_off int, win_pred_bytes binary",
    )
    merged = mosaic.overlap_average(win_preds).toPandas().set_index("image_id")
    full = raster.pseudo_inference(datagen.images_df(spark, 12)).select("image_id", "pred_bytes").toPandas()
    for _, row in full.iterrows():
        exp = decode_image(bytes(row["pred_bytes"]))
        got = decode_image(bytes(merged.loc[row["image_id"], "merged_bytes"]))
        assert np.allclose(got, exp), row["image_id"]


def test_decibels_and_scaling(spark):
    arr = np.array([[[100.0, 10.0, 1.0]]], dtype=np.float32)
    df = spark.createDataFrame(
        [("x", encode_image(arr, "raw"))], "image_id string, bytes binary"
    )
    out = raster.to_decibels(df).collect()[0]
    got = decode_image(bytes(out["db_bytes"]))
    assert np.allclose(got[0, 0], [20.0, 10.0, 1.0])  # band 2 untouched
    out2 = raster.scale_bands(df, [2.0, 0.5, 1.0]).collect()[0]
    got2 = decode_image(bytes(out2["scaled_bytes"]))
    assert np.allclose(got2[0, 0], [200.0, 5.0, 1.0])


def test_decode_stats_matches_numpy(spark):
    imgs = datagen.images_df(spark, 20)
    got = raster.decode_stats(imgs).toPandas()
    agg = got.groupby("band")[["psum", "psumsq", "pcount"]].sum()
    mean = agg["psum"] / agg["pcount"]
    var = agg["psumsq"] / agg["pcount"] - mean**2
    # numpy oracle
    allpix = {b: [] for b in range(3)}
    for i in range(20):
        pix = decode_image(datagen.image_row(i)["bytes"])  # lossy-aware oracle
        for b in range(3):
            allpix[b].append(pix[:, :, b].ravel())
    for b in range(3):
        v = np.concatenate(allpix[b]).astype(np.float64)
        assert np.isclose(mean[b], v.mean())
        assert np.isclose(var[b], v.var(), rtol=1e-9)


# --------------------------- round-2 ops: reproject / rgb / stack / guards


def test_webmerc_roundtrip():
    from geospatial_studio_pipelines_spark.geo import crs as C

    lon = np.linspace(-179, 179, 50)
    lat = np.linspace(-80, 80, 50)
    x, y = C.lonlat_to_webmerc(lon, lat)
    lon2, lat2 = C.webmerc_to_lonlat(x, y)
    assert np.allclose(lon, lon2, atol=1e-9) and np.allclose(lat, lat2, atol=1e-9)
    # known anchor: lon 180 -> pi*R
    x180, _ = C.lonlat_to_webmerc(180.0, 0.0)
    assert abs(float(x180) - np.pi * C.R_MERC) < 1e-6


def test_warp_array_linear_oracle():
    """Bilinear warp of a linear field f(lon,lat)=3lon+5lat from 4326 to a
    3857 grid must reproduce f at every destination center (bilinear is
    exact on linear functions); nearest must agree with direct index math."""
    from geospatial_studio_pipelines_spark.geo import crs as C

    h = w = 40
    minx, miny, maxx, maxy = 10.0, 40.0, 12.0, 41.5
    lon_c = minx + (np.arange(w) + 0.5) * (maxx - minx) / w
    lat_c = maxy - (np.arange(h) + 0.5) * (maxy - miny) / h
    field = (3.0 * lon_c[None, :] + 5.0 * lat_c[:, None]).astype(np.float32)[..., None]
    dx0, dy0 = C.lonlat_to_webmerc(minx, miny)
    dx1, dy1 = C.lonlat_to_webmerc(maxx, maxy)
    dst_bounds = (float(dx0), float(dy0), float(dx1), float(dy1))
    out = C.warp_array(field, (minx, miny, maxx, maxy), "EPSG:4326", dst_bounds, "EPSG:3857", 50, 50, "bilinear")
    # direct oracle at destination centers (interior only: edge pixels clamp)
    mx = dst_bounds[0] + (np.arange(50) + 0.5) * (dst_bounds[2] - dst_bounds[0]) / 50
    my = dst_bounds[3] - (np.arange(50) + 0.5) * (dst_bounds[3] - dst_bounds[1]) / 50
    glon, glat = C.webmerc_to_lonlat(*np.meshgrid(mx, my))
    expect = 3.0 * glon + 5.0 * glat
    inner = out[5:-5, 5:-5, 0]
    assert np.allclose(inner, expect[5:-5, 5:-5], rtol=1e-5)


def test_utm_transform_accuracy():
    """UTM (EPSG:326xx/327xx) Krüger-series forward/inverse: anchor points,
    an INDEPENDENT meridian-arc quadrature oracle (not the series itself),
    and round-trip ≤ 1e-6° across a zone incl. high latitude."""
    from geospatial_studio_pipelines_spark.geo import crs as C

    # anchors: central meridian → E=500000; equator → N=0 north / 1e7 south
    x, y = C.lonlat_to_utm(15.0, 0.0, "EPSG:32633")
    assert abs(float(x) - 500000.0) < 1e-6 and abs(float(y)) < 1e-6
    x, y = C.lonlat_to_utm(15.0, 0.0, "EPSG:32733")
    assert abs(float(y) - 10000000.0) < 1e-6
    # northing along the CM = k0 × meridian arc length (ellipsoid integral)
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    phi = np.linspace(0, np.deg2rad(60), 400001)
    M = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
    arc = np.trapz(M, phi)
    _, y60 = C.lonlat_to_utm(15.0, 60.0, "EPSG:32633")
    assert abs(float(y60) - 0.9996 * arc) < 1e-3  # sub-mm series vs quadrature
    # round trip over each zone (±3.5° of ITS central meridian, 80S..84N)
    rng = np.random.default_rng(0)
    lat = rng.uniform(-80, 84, 5000)
    for crs, cm in (("EPSG:32633", 15.0), ("EPSG:32733", 15.0), ("32645", 87.0)):
        lon = cm + rng.uniform(-3.5, 3.5, 5000)
        xx, yy = C.transform_points("EPSG:4326", crs, lon, lat)
        lo, la = C.transform_points(crs, "WGS84", xx, yy)
        assert np.abs(lo - lon).max() < 1e-6 and np.abs(la - lat).max() < 1e-6
    # composition UTM → 3857 goes through lon/lat
    X, Y = C.transform_points("EPSG:32633", "3857", np.array([500000.0]), np.array([0.0]))
    ex, ey = C.lonlat_to_webmerc(15.0, 0.0)
    assert abs(float(X[0]) - float(ex)) < 1e-6 and abs(float(Y[0]) - float(ey)) < 1e-6
    with pytest.raises(ValueError):
        C._norm_crs("EPSG:32661")  # zone 61 does not exist


def test_utm_oracle_kernel_matches_production():
    """utm_oracle_kernel (exp/log-composed hyperbolics, the DuckDB-twin
    form) must agree with the production np.sinh/np.arctanh path to
    nanometers — it is the same series, just built from twin-reproducible
    libm primitives."""
    from geospatial_studio_pipelines_spark.geo import crs as C

    rng = np.random.default_rng(1)
    lon = rng.uniform(-179, 179, 5000)
    lat = rng.uniform(-60, 60, 5000)
    zone = np.clip(np.floor((lon + 180) / 6).astype(np.int64) + 1, 1, 60)
    lon0 = zone * 6.0 - 183.0
    fn = np.where(lat < 0, 1e7, 0.0)
    e1, n1 = C.utm_oracle_kernel(lon, lat, lon0, fn)
    e2, n2 = np.empty_like(e1), np.empty_like(n1)
    for z in np.unique(zone):
        for south in (False, True):
            m = (zone == z) & ((lat < 0) == south)
            if not m.any():
                continue
            crs = f"EPSG:{327 if south else 326}{z:02d}"
            e2[m], n2[m] = C.lonlat_to_utm(lon[m], lat[m], crs)
    assert np.abs(e1 - e2).max() < 1e-7 and np.abs(n1 - n2).max() < 1e-7


def test_warp_array_utm_linear_oracle():
    """Bilinear warp of f(lon,lat)=3lon+5lat from 4326 onto a UTM grid
    reproduces f at every destination center (bilinear exact on linear
    fields; centers inverse-projected through the round-trip-verified
    utm_to_lonlat)."""
    from geospatial_studio_pipelines_spark.geo import crs as C

    h = w = 40
    minx, miny, maxx, maxy = 13.0, 45.0, 16.0, 47.0
    lon_c = minx + (np.arange(w) + 0.5) * (maxx - minx) / w
    lat_c = maxy - (np.arange(h) + 0.5) * (maxy - miny) / h
    field = (3.0 * lon_c[None, :] + 5.0 * lat_c[:, None]).astype(np.float32)[..., None]
    xs, ys = C.lonlat_to_utm(np.array([minx, maxx]), np.array([miny, maxy]), "EPSG:32633")
    dst_bounds = (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1]))
    out = C.warp_array(
        field, (minx, miny, maxx, maxy), "EPSG:4326", dst_bounds, "EPSG:32633", 50, 50, "bilinear"
    )
    mx = dst_bounds[0] + (np.arange(50) + 0.5) * (dst_bounds[2] - dst_bounds[0]) / 50
    my = dst_bounds[3] - (np.arange(50) + 0.5) * (dst_bounds[3] - dst_bounds[1]) / 50
    glon, glat = C.utm_to_lonlat(*np.meshgrid(mx, my), "EPSG:32633")
    expect = 3.0 * glon + 5.0 * glat
    inner = out[5:-5, 5:-5, 0]
    ok = inner != C.NODATA  # corners of the rotated UTM footprint fall outside
    assert ok.mean() > 0.9
    assert np.allclose(inner[ok], expect[5:-5, 5:-5][ok], rtol=1e-5)


def test_reproject_stage_utm(spark):
    """reproject() accepts UTM sources end-to-end (the gdalwarp 'any source
    CRS' parity): a scene delivered in EPSG:32633 warps to 4326 and the
    canonical bounds/crs columns carry the warped values."""
    from geospatial_studio_pipelines_spark.geo import crs as C

    arr = datagen.fixture_pixels(3, 16, 20).astype(np.float32)
    xs, ys = C.lonlat_to_utm(np.array([14.0, 15.0]), np.array([45.0, 46.0]), "EPSG:32633")
    pdf = pd.DataFrame(
        {
            "image_id": ["a"],
            "bytes": [encode_image(arr, "raw")],
            "crs": ["EPSG:32633"],
            "minx": [float(xs[0])], "miny": [float(ys[0])],
            "maxx": [float(xs[1])], "maxy": [float(ys[1])],
            "w": [16], "h": [20],
        }
    )
    out = raster.reproject(spark.createDataFrame(pdf), "bytes", dst_crs="EPSG:4326").collect()[0]
    warped = decode_image(bytes(out["warped_bytes"]))
    assert warped.shape == (20, 16, 3)
    assert out["crs"] == "EPSG:4326"
    assert abs(out["minx"] - 14.0) < 1e-6 and abs(out["maxy"] - 46.0) < 1e-6


def test_reproject_stage(spark):
    from geospatial_studio_pipelines_spark.geo import crs as C

    arr = datagen.fixture_pixels(3, 16, 20).astype(np.float32)  # (h=20, w=16, 3)
    pdf = pd.DataFrame(
        {
            "image_id": ["a"],
            "bytes": [encode_image(arr, "raw")],
            "crs": ["EPSG:4326"],
            "minx": [10.0], "miny": [40.0], "maxx": [12.0], "maxy": [41.0],
            "w": [16], "h": [20],
        }
    )
    df = spark.createDataFrame(pdf)
    out = raster.reproject(df, "bytes", dst_crs="EPSG:3857").collect()[0]
    warped = decode_image(bytes(out["warped_bytes"]))
    assert warped.shape == (20, 16, 3)
    # canonical bounds + crs columns carry the WARPED values (ADVICE fix:
    # downstream joins/masks key on minx..maxy/crs; stale source-CRS bounds
    # there silently corrupt every later stage)
    ex0, ey0 = C.lonlat_to_webmerc(10.0, 40.0)
    ex1, ey1 = C.lonlat_to_webmerc(12.0, 41.0)
    assert abs(out["minx"] - float(ex0)) < 1e-6 and abs(out["miny"] - float(ey0)) < 1e-6
    assert abs(out["maxx"] - float(ex1)) < 1e-6 and abs(out["maxy"] - float(ey1)) < 1e-6
    assert out["crs"] == "EPSG:3857"
    # same-CRS reproject = plain resample passthrough, bounds unchanged
    same = raster.reproject(df, "bytes", dst_crs="EPSG:4326").collect()[0]
    assert np.array_equal(decode_image(bytes(same["warped_bytes"])), arr)
    assert same["minx"] == 10.0 and same["maxy"] == 41.0 and same["crs"] == "EPSG:4326"


def test_make_rgb(spark):
    arr = datagen.fixture_pixels(5, 10, 8).astype(np.float32)  # 3 bands
    arr4 = np.concatenate([arr, arr[:, :, :1] * 0.5], axis=2)  # 4 bands
    pdf = pd.DataFrame({"image_id": ["a"], "bytes": [encode_image(arr4, "raw")]})
    spec = [
        {"name": "nir", "index": 3},
        {"name": "red", "RGB_band": "R", "index": 2},
        {"name": "green", "RGB_band": "G", "index": 1},
        {"name": "blue", "RGB_band": "B", "index": 0},
    ]
    out = raster.make_rgb(spark.createDataFrame(pdf), spec).collect()[0]
    rgb = decode_image(bytes(out["rgb_bytes"]))
    assert np.array_equal(rgb, arr4[:, :, [2, 1, 0]])
    with pytest.raises(ValueError):
        raster.make_rgb(spark.createDataFrame(pdf), [{"name": "nir", "index": 0}])


def test_stack_bands(spark):
    planes = [datagen.fixture_pixels(i, 5, 6)[:, :, :1].astype(np.float32) for i in range(3)]
    rows = [
        {"image_id": "img", "band_idx": i, "bytes": encode_image(p, "raw")}
        for i, p in enumerate(planes)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = raster.stack_bands(df).collect()[0]
    stacked = decode_image(bytes(out["stacked_bytes"]))
    assert out["n_bands"] == 3 and stacked.shape == (6, 5, 3)
    for i, p in enumerate(planes):
        assert np.array_equal(stacked[:, :, i], p[:, :, 0])


def test_all_zero_guard(spark):
    good = datagen.fixture_pixels(1, 6, 6).astype(np.float32)
    zero = np.zeros((6, 6, 1), dtype=np.float32)
    pdf = pd.DataFrame(
        {
            "image_id": ["good", "zero"],
            "bytes": [encode_image(good, "raw"), encode_image(zero, "raw")],
        }
    )
    df = spark.createDataFrame(pdf)
    kept = raster.drop_all_zero(df).collect()
    assert [r.image_id for r in kept] == ["good"]
    flags = {r.image_id: r.all_zero for r in raster.with_all_zero_flag(df).collect()}
    assert flags == {"good": False, "zero": True}


def test_mask_ocean(spark):
    """Pixels outside the land polygon -> NODATA; inside untouched."""
    from geospatial_studio_pipelines_spark.geo import wkb as W

    arr = np.full((10, 10, 1), 7.0, dtype=np.float32)
    pdf = pd.DataFrame(
        {
            "image_id": ["a"],
            "bytes": [encode_image(arr, "raw")],
            "minx": [0.0], "miny": [0.0], "maxx": [1.0], "maxy": [1.0],
        }
    )
    # land = left half of the image bbox
    ring = np.array([[-1.0, -1.0], [0.5, -1.0], [0.5, 2.0], [-1.0, 2.0], [-1.0, -1.0]])
    land = pd.DataFrame({"aoi_id": [0], "geom_wkb": [W.dumps_polygon([ring])]})
    out = masking.mask_ocean(spark.createDataFrame(pdf), land).collect()[0]
    m = decode_image(bytes(out["land_bytes"]))[:, :, 0]
    assert (m[:, :5] == 7.0).all()  # land columns (x < 0.5)
    assert (m[:, 5:] == masking.NODATA).all()  # ocean columns


def test_mask_from_layer_buffer_and_burn(spark):
    """A point-like polygon buffered by 100 m must burn a disc of 90s whose
    pixel radius matches 100 m at the bbox's mercator scale."""
    from geospatial_studio_pipelines_spark.geo import crs as C
    from geospatial_studio_pipelines_spark.geo import wkb as W

    h = w = 40
    # bbox ~444 m wide at equator (0.004 deg): 100 m buffer ~ 9 px radius
    pdf = pd.DataFrame(
        {
            "image_id": ["a"],
            "bytes": [encode_image(np.zeros((h, w, 1), np.float32), "raw")],
            "minx": [0.0], "miny": [0.0], "maxx": [0.004], "maxy": [0.004],
        }
    )
    eps = 1e-6
    ring = np.array([[0.002, 0.002], [0.002 + eps, 0.002], [0.002 + eps, 0.002 + eps], [0.002, 0.002 + eps], [0.002, 0.002]])
    layer = pd.DataFrame({"aoi_id": [0], "geom_wkb": [W.dumps_polygon([ring])]})
    out = masking.mask_from_layer(spark.createDataFrame(pdf), layer, buffer_size_m=100.0).collect()[0]
    m = decode_image(bytes(out["masked_url_bytes"]))[:, :, 0]
    assert m[20, 20] == 90.0  # center burned
    assert m[0, 0] == 0.0 and m[-1, -1] == 0.0  # corners (dist ~314 m) not
    burned_frac = (m == 90.0).mean()
    expect = np.pi * 9.0**2 / (h * w)  # ~0.159
    assert abs(burned_frac - expect) < 0.06


def test_match_to_target_crs_aware(spark):
    from geospatial_studio_pipelines_spark.geo import crs as C

    arr = datagen.fixture_pixels(9, 12, 10).astype(np.float32)  # (10, 12, 3)
    mx0, my0 = C.lonlat_to_webmerc(10.0, 40.0)
    mx1, my1 = C.lonlat_to_webmerc(12.0, 41.0)
    pdf = pd.DataFrame(
        {
            "image_id": ["m"],
            "bytes": [encode_image(arr, "raw")],
            "crs": ["EPSG:3857"],
            "minx": [float(mx0)], "miny": [float(my0)],
            "maxx": [float(mx1)], "maxy": [float(my1)],
            "w": [12], "h": [10],
        }
    )
    df = spark.createDataFrame(pdf)
    out = raster.match_to_target(df, "bytes", src_crs_col="crs", dst_crs="EPSG:4326").collect()[0]
    warped = decode_image(bytes(out["aligned_bytes"]))
    assert warped.shape == (10, 12, 3)
    # oracle: direct warp_array call
    exp = C.warp_array(arr, (mx0, my0, mx1, my1), "EPSG:3857",
                       (10.0, 40.0, 12.0, 41.0), "EPSG:4326", 10, 12, "nearest")
    assert np.array_equal(warped, exp)


def test_change_dtype(spark):
    arr = np.array([[[300.7, -2.3, 128.0]]], dtype=np.float32)
    df = spark.createDataFrame([("x", encode_image(arr, "raw"))], "image_id string, bytes binary")
    out = raster.change_dtype(df, "uint8").collect()[0]
    got = decode_image(bytes(out["cast_bytes"]))
    assert got.dtype == np.uint8
    assert np.array_equal(got, arr.astype(np.uint8))  # numpy cast semantics
    out16 = raster.change_dtype(df, "int16", out_col="i16").collect()[0]
    assert np.array_equal(decode_image(bytes(out16["i16"])), arr.astype(np.int16))


def test_bigint_image_ids_keep_their_type(spark):
    """An int64 image id passes through the per-image stages that emit many
    rows per image, and through the overlap reassembly, with its type and
    values unchanged."""
    from pyspark.sql.types import LongType

    from geospatial_studio_pipelines_spark.operators import vectorize

    def int_ids(df):
        return df.withColumn("image_id", F.substring_index("image_id", "-", -1).cast("bigint"))

    labels = int_ids(datagen.label_df(spark, 30)).withColumnRenamed("label_bytes", "masked_bytes")
    polys = vectorize.vectorize(labels, min_area=1.0)
    assert polys.schema["image_id"].dataType == LongType()
    got = polys.groupBy("image_id").count().collect()
    assert {r.image_id: r["count"] for r in got} == {
        i: datagen.label_row(i)["n_shapes"] for i in (0, 10, 20)
    }

    stats = raster.decode_stats(int_ids(datagen.images_df(spark, 4)))
    assert stats.schema["image_id"].dataType == LongType()
    assert sorted((r.image_id, r.band) for r in stats.collect()) == [
        (i, b) for i in range(4) for b in range(3)
    ]

    pred = np.arange(6, dtype=np.float32).reshape(2, 3, 1)
    windows = spark.createDataFrame(
        [(7, 3, 2, 0, 0, encode_image(pred[:, :2], "raw")), (7, 3, 2, 1, 0, encode_image(pred[:, 1:], "raw"))],
        "image_id bigint, w int, h int, win_col_off int, win_row_off int, win_pred_bytes binary",
    )
    merged = mosaic.overlap_average(windows)
    assert merged.schema["image_id"].dataType == LongType()
    (row,) = merged.collect()
    assert row.image_id == 7
    assert np.array_equal(decode_image(bytes(row.merged_bytes)), pred)


def test_per_image_stages_share_one_arrow_loop():
    """Every row-wise pixel and geometry stage goes through one loop: the
    five stage modules hold exactly one ``mapInArrow`` call between them and
    no ``mapInPandas`` or ``iterrows``."""
    import ast
    from pathlib import Path

    from geospatial_studio_pipelines_spark.operators import regularize, tiling, vectorize

    calls = {"mapInArrow": 0, "mapInPandas": 0, "iterrows": 0}
    for mod in (raster, masking, vectorize, regularize, tiling):
        for node in ast.walk(ast.parse(Path(mod.__file__).read_text())):
            if isinstance(node, ast.Attribute) and node.attr in calls:
                calls[node.attr] += 1
    assert calls == {"mapInArrow": 1, "mapInPandas": 0, "iterrows": 0}


def test_map_images_caps_output_batches():
    """A high-fan-out stage yields output batches of at most the cap, with
    each output's kept columns taken from its own input row; a one-to-one
    stage is capped the same way."""
    import pyarrow as pa

    img = np.arange(12, dtype=np.float32).reshape(2, 6, 1)
    rb = pa.RecordBatch.from_pydict(
        {"image_id": pa.array([10, 11, 12], pa.int64()), "bytes": [encode_image(img * k, "raw") for k in range(3)]}
    )
    types = {"c0": pa.int32(), "chip": pa.binary()}
    names = ["image_id", "c0", "chip"]

    def windows(row):
        for c0 in range(5):
            yield {"c0": c0, "chip": row["bytes"][:, c0 : c0 + 2]}

    got = list(raster._arrow_loop([rb], windows, ["bytes"], ["image_id"], types, names, 4))
    assert [b.num_rows for b in got] == [4, 4, 4, 3]
    t = pa.Table.from_batches(got)
    assert t.schema.field("image_id").type == pa.int64()
    assert t.column("image_id").to_pylist() == [10] * 5 + [11] * 5 + [12] * 5
    assert t.column("c0").to_pylist() == list(range(5)) * 3
    for iid, c0, chip in zip(*(t.column(c).to_pylist() for c in names)):
        assert np.array_equal(decode_image(chip), (img * (iid - 10))[:, c0 : c0 + 2])

    def whole(row):
        yield {"c0": 0, "chip": row["bytes"]}

    one = list(raster._arrow_loop([rb], whole, ["bytes"], ["image_id"], types, names, 2))
    assert [b.column("image_id").to_pylist() for b in one] == [[10, 11], [12]]


def test_chip_and_label_under_a_small_batch_cap(spark):
    """With a batch cap below one image's window count, chip_and_label's
    output is the same rows as under the session default."""
    from geospatial_studio_pipelines_spark.operators import tiling

    images = datagen.images_df(spark, 40)
    labels = datagen.label_df(spark, 40)

    def chips():
        rows = tiling.chip_and_label(images, labels).collect()
        return sorted(tuple(r) for r in rows)

    want = chips()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = chips()
    finally:
        spark.conf.set(key, old)
    assert got == want and len(want) > 4


def test_map_images_loop_builds_columns_without_pandas():
    """The per-row loop builds every output and kept column without
    importing pandas (``pa.array`` on Python values imports it, about 0.3 s
    of a fresh Python worker's first task), and those columns equal what
    ``pa.array`` builds, nulls included."""
    import subprocess
    import sys
    from pathlib import Path

    code = """
import sys
import numpy as np
import pyarrow as pa
from geospatial_studio_pipelines_spark.operators.raster import _arrow_loop

ids = pa.Array.from_buffers(pa.int64(), 3, [None, pa.py_buffer(np.array([7, 8, 9]))])
rb = pa.RecordBatch.from_arrays([ids], names=["id"])
types = {"i": pa.int32(), "l": pa.int64(), "d": pa.float64(), "f": pa.bool_(), "s": pa.string(), "b": pa.binary()}
rows = [
    {"i": 1, "l": 2**40, "d": 0.5, "f": True, "s": "a", "b": b"x"},
    {"i": None, "l": None, "d": None, "f": None, "s": None, "b": None},
    {"i": -3, "l": 0, "d": float("nan"), "f": False, "s": "é", "b": b""},
]

def fn(row):
    return rows[: row["id"] - 6]  # 1, 2 and 3 outputs: a fan-out

def whole(row):
    yield rows[row["id"] - 7]

names = ["id", *types]
fan = pa.Table.from_batches(list(_arrow_loop([rb], fn, [], ["id"], types, names, 4)))
one = pa.Table.from_batches(list(_arrow_loop([rb], whole, [], ["id"], types, names, 0)))
imported = "pandas" in sys.modules
for t, want in ((fan, rows[:1] + rows[:2] + rows), (one, rows)):
    t.validate(full=True)
    for c, ty in types.items():
        want_c = pa.array([r[c] for r in want], type=ty).to_pylist()
        assert t.schema.field(c).type == ty and repr(t.column(c).to_pylist()) == repr(want_c), c
assert fan.column("id").to_pylist() == [7, 8, 8, 9, 9, 9]
assert one.column("id").to_pylist() == [7, 8, 9]
print(imported)
"""
    root = Path(__file__).resolve().parents[1]
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
