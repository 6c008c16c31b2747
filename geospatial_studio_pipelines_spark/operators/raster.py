"""Raster pixel operators — Arrow-batched pandas UDF stages over the
``bytes`` column (SURVEY.md §2.8 F1–F10, §3.3 per-task data path).

Each public function is a DataFrame→DataFrame stage; pixels only exist inside
the UDF (decoded per Arrow batch, bounded by ``maxRecordsPerBatch``). The
chain mirrors the reference's fetch→impute/scale→infer path
(``terrakit_data_fetch.py:84-172`` → ``run-inference.py``), with the model
replaced by a deterministic pseudo-inference so outputs are checkable
(SURVEY.md §7.2 step 7).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import col as F_col

from ..codecs.image import decode_image, encode_image

NODATA = -9999.0  # raster_data_operations.py:30


def _map_images(
    df: DataFrame,
    fn,
    in_col: str,
    out_col: str,
    extra_out: str = "",
    carry: tuple[str, ...] | None = None,
):
    """Run ``fn(ndarray HxWxC, row) -> ndarray`` over each image, re-encoding
    as raw float32/uint8. Keeps all input columns, adds ``out_col``."""
    cols = list(df.columns) if carry is None else list(carry)
    schema = ", ".join(f"{c} {t}" for c, t in df.dtypes if c in cols)
    schema += f", {out_col} binary" + (f", {extra_out}" if extra_out else "")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for _, row in pdf.iterrows():
                arr = decode_image(bytes(row[in_col]))
                outs.append(fn(arr, row))
            out = pdf[cols].copy()
            out[out_col] = [encode_image(a, "raw") for a in outs]
            yield out

    return df.mapInPandas(run, schema)


# --------------------------------------------------------- F1: to_decibels


def to_decibels(df: DataFrame, in_col: str = "bytes", out_col: str = "db_bytes", bands=(0, 1)) -> DataFrame:
    """10·log10(x) applied to the given band planes (S1GRD bands 0–1 only,
    terrakit_data_fetch.py:41-49); zeros map to NODATA instead of -inf."""

    def fn(arr, _row):
        out = arr.astype(np.float32)
        for b in bands:
            if b < out.shape[2]:
                plane = out[:, :, b]
                with np.errstate(divide="ignore"):
                    out[:, :, b] = np.where(plane > 0, 10.0 * np.log10(plane), NODATA)
        return out

    return _map_images(df, fn, in_col, out_col)


# -------------------------------------------------------- F2: band scaling


def scale_bands(df: DataFrame, factors: list[float], in_col: str = "bytes", out_col: str = "scaled_bytes") -> DataFrame:
    """Per-band multiply by scaling_factor (terrakit_data_fetch.py:149-152);
    missing factors default to 1.0 like the reference's spec lookup."""
    fac = np.asarray(factors, dtype=np.float32)

    def fn(arr, _row):
        out = arr.astype(np.float32)
        n = min(out.shape[2], len(fac))
        out[:, :, :n] *= fac[:n]
        return out

    return _map_images(df, fn, in_col, out_col)


# ------------------------------------------------------- F3: impute nans


def impute_nans_array(arr: np.ndarray, max_fill_dist: int = 16) -> np.ndarray:
    """NODATA/float32-max → NaN → iterative nearest-neighbor fill (the
    gdal_fillnodata analog: each pass fills a NaN pixel with the mean of its
    valid 4-neighbors, expanding one pixel per pass) → remaining NaN to the
    per-band median; errors if a band has no valid pixel at all
    (raster_data_operations.py:521-569 incl. the :545-548 guard)."""
    out = arr.astype(np.float32).copy()
    out[out <= NODATA] = np.nan
    out[out >= np.finfo(np.float32).max] = np.nan
    for b in range(out.shape[2]):
        plane = out[:, :, b]
        if np.isnan(plane).all():
            raise ValueError(f"band {b} has no valid pixels (impute would be undefined)")
        for _ in range(max_fill_dist):
            nanmask = np.isnan(plane)
            if not nanmask.any():
                break
            padded = np.pad(plane, 1, constant_values=np.nan)
            with np.errstate(invalid="ignore"):
                neigh = np.nanmean(
                    np.stack(
                        [padded[:-2, 1:-1], padded[2:, 1:-1], padded[1:-1, :-2], padded[1:-1, 2:]]
                    ),
                    axis=0,
                )
            plane = np.where(nanmask & ~np.isnan(neigh), neigh, plane)
        med = np.nanmedian(plane)
        plane = np.where(np.isnan(plane), med, plane)
        out[:, :, b] = plane
    return out


# --------------------------------------- F7/F8: resize / crop to window


def resize_array(arr: np.ndarray, out_h: int, out_w: int, method: str = "nearest") -> np.ndarray:
    """Affine grid resample (the gdalwarp/gdal_translate analog for the
    same-CRS case, raster_data_operations.py:363-431, :572-598)."""
    h, w, c = arr.shape
    if method == "nearest":
        yi = np.clip(((np.arange(out_h) + 0.5) * h / out_h - 0.5 + 0.5).astype(np.int64), 0, h - 1)
        xi = np.clip(((np.arange(out_w) + 0.5) * w / out_w - 0.5 + 0.5).astype(np.int64), 0, w - 1)
        return arr[yi[:, None], xi[None, :], :]
    if method == "bilinear":
        yf = (np.arange(out_h) + 0.5) * h / out_h - 0.5
        xf = (np.arange(out_w) + 0.5) * w / out_w - 0.5
        y0 = np.clip(np.floor(yf).astype(np.int64), 0, h - 1)
        x0 = np.clip(np.floor(xf).astype(np.int64), 0, w - 1)
        y1 = np.clip(y0 + 1, 0, h - 1)
        x1 = np.clip(x0 + 1, 0, w - 1)
        wy = np.clip(yf - y0, 0, 1)[:, None, None]
        wx = np.clip(xf - x0, 0, 1)[None, :, None]
        a = arr.astype(np.float64)
        top = a[y0][:, x0, :] * (1 - wx) + a[y0][:, x1, :] * wx
        bot = a[y1][:, x0, :] * (1 - wx) + a[y1][:, x1, :] * wx
        return (top * (1 - wy) + bot * wy).astype(np.float32)
    raise ValueError(method)


def crop_window(arr: np.ndarray, col_off: int, row_off: int, w: int, h: int) -> np.ndarray:
    """Window slice with edge clamp (rasterio.windows.from_bounds analog)."""
    H, W, _ = arr.shape
    r0, c0 = max(0, row_off), max(0, col_off)
    return arr[r0 : min(H, row_off + h), c0 : min(W, col_off + w), :]


def match_to_target(
    df: DataFrame,
    in_col: str,
    target_w: str = "w",
    target_h: str = "h",
    method: str = "nearest",
    src_crs_col: str | None = None,
    dst_crs: str | None = None,
    bounds_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
) -> DataFrame:
    """J5 grid-alignment: resample each raster to the row's (w, h) grid
    (match_raster_to_target, raster_data_operations.py:434-462). When
    ``src_crs_col``/``dst_crs`` are given the alignment goes through the F7
    inverse-mapping warp — gdalwarp's ``-t_srs`` + ``-ts`` in one pass —
    so mixed-CRS inputs land on one common grid like the reference's
    ``check_projection`` + match chain."""
    if src_crs_col is not None and dst_crs is not None:
        from ..geo import crs as C

        bminx, bminy, bmaxx, bmaxy = bounds_cols

        def fn(arr, row):
            src_bounds = (row[bminx], row[bminy], row[bmaxx], row[bmaxy])
            xs, ys = C.transform_points(
                str(row[src_crs_col]), dst_crs,
                np.array([src_bounds[0], src_bounds[2]]),
                np.array([src_bounds[1], src_bounds[3]]),
            )
            return C.warp_array(
                arr, src_bounds, str(row[src_crs_col]),
                (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])), dst_crs,
                int(row[target_h]), int(row[target_w]), method,
            )

    else:

        def fn(arr, row):
            return resize_array(arr, int(row[target_h]), int(row[target_w]), method)

    return _map_images(df, fn, in_col, in_col.replace("bytes", "") + "aligned_bytes")


def reproject(
    df: DataFrame,
    in_col: str,
    dst_crs: str = "EPSG:4326",
    src_crs_col: str = "crs",
    bounds_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
    out_w_col: str = "w",
    out_h_col: str = "h",
    method: str = "nearest",
    out_col: str | None = None,
) -> DataFrame:
    """F7 CRS reprojection — the ``check_projection``/``gdalwarp -t_srs``
    analog (``raster_data_operations.py:363-431``, ``check_projection``
    ``:16-31``): rows whose ``src_crs_col`` differs from ``dst_crs`` are
    inverse-mapping warped to a ``(w, h)`` grid over their bbox transformed
    into ``dst_crs``; rows already in ``dst_crs`` pass through the same
    resample (gdalwarp does too when a size is forced). OVERWRITES the
    canonical ``bounds_cols`` and ``src_crs_col`` with the warped values —
    downstream ops (footprints, joins, masking) key on ``minx..maxy``/
    ``crs``, so stale source-CRS bounds there would silently corrupt every
    later stage (r2 emitted separate ``dst_*`` columns and left the
    canonical ones untouched — ADVICE fix)."""
    from ..geo import crs as C

    out_col = out_col or in_col.replace("bytes", "") + "warped_bytes"
    bminx, bminy, bmaxx, bmaxy = bounds_cols
    cols = [c for c in df.columns]
    dtypes = dict(df.dtypes)
    for c in bounds_cols:
        dtypes[c] = "double"  # warped bounds are double regardless of input
    schema = ", ".join(f"{c} {dtypes[c]}" for c in cols)
    schema += f", {out_col} binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            blobs, bs = [], []
            for _, row in pdf.iterrows():
                arr = decode_image(bytes(row[in_col]))
                src_bounds = (row[bminx], row[bminy], row[bmaxx], row[bmaxy])
                xs, ys = C.transform_points(
                    str(row[src_crs_col]),
                    dst_crs,
                    np.array([src_bounds[0], src_bounds[2]]),
                    np.array([src_bounds[1], src_bounds[3]]),
                )
                dst_bounds = (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1]))
                warped = C.warp_array(
                    arr, src_bounds, str(row[src_crs_col]), dst_bounds, dst_crs,
                    int(row[out_h_col]), int(row[out_w_col]), method,
                )
                blobs.append(encode_image(warped, "raw"))
                bs.append(dst_bounds)
            out = pdf[cols].copy()
            arr_b = np.array(bs, dtype=np.float64).reshape(-1, 4)
            out[bminx], out[bminy] = arr_b[:, 0], arr_b[:, 1]
            out[bmaxx], out[bmaxy] = arr_b[:, 2], arr_b[:, 3]
            out[src_crs_col] = dst_crs
            out[out_col] = blobs
            yield out

    return df.mapInPandas(run, schema)


# ------------------------------------------- P2: RGB projection (make_rgb)


def find_band_index(bands_spec: list[dict], search_key: str, search_value: str) -> int | None:
    """``search_band_dict`` twin (postprocess_generic_helper_functions.py:401-404):
    first band dict whose ``search_key`` equals ``search_value``; None if absent."""
    for band in bands_spec:
        if band.get(search_key) == search_value:
            idx = band.get("index")
            return None if idx is None else int(idx)
    return None


def make_rgb(
    df: DataFrame,
    bands_spec: list[dict],
    in_col: str = "bytes",
    out_col: str = "rgb_bytes",
) -> DataFrame:
    """P2 RGB projection (``make_rgb``,
    postprocess_generic_helper_functions.py:301-329): look up the R/G/B band
    indexes in the model-input band spec and slice those three planes, in
    R,G,B order. The spec is job-level, so the lookup happens ONCE on the
    driver; the per-image work is a pure plane slice. Raises like the
    reference when the spec has no RGB bands."""
    idxs = [find_band_index(bands_spec, "RGB_band", ch) for ch in ("R", "G", "B")]
    if any(i is None for i in idxs):
        raise ValueError(f"band spec has no RGB bands: {bands_spec!r}")

    def fn(arr, _row):
        if max(idxs) >= arr.shape[2]:
            raise ValueError(f"image has {arr.shape[2]} bands; RGB spec wants {idxs}")
        return arr[:, :, idxs].astype(np.float32)

    return _map_images(df, fn, in_col, out_col)


# ----------------------------------------------- F10: band stacking


def stack_bands(
    df: DataFrame,
    in_col: str = "bytes",
    band_col: str = "band_idx",
    id_col: str = "image_id",
    out_col: str = "stacked_bytes",
) -> DataFrame:
    """F10 ``stack_rasters`` (raster_data_operations.py:143-168): N
    single-band rasters of one image → one N-band raster, band order =
    ascending ``band_col`` (the reference's list order). Spark shape: a
    grouped ``applyInPandas`` per image — each group is one image's bands,
    so group size is bounded by band count, never by image count."""

    def stack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(band_col)
        planes = [decode_image(bytes(b))[:, :, 0] for b in pdf[in_col]]
        arr = np.stack(planes, axis=2).astype(np.float32)
        return pd.DataFrame(
            {id_col: [pdf[id_col].iloc[0]], "n_bands": [len(planes)], out_col: [encode_image(arr, "raw")]}
        )

    id_type = dict(df.dtypes)[id_col]
    return df.groupBy(id_col).applyInPandas(
        stack, f"{id_col} {id_type}, n_bands int, {out_col} binary"
    )


def change_dtype(df: DataFrame, dtype: str, in_col: str = "bytes", out_col: str | None = None) -> DataFrame:
    """F9 dtype cast (``change_raster_dtype``,
    raster_data_operations.py:129-135): decode → astype → re-encode raw.
    numpy cast semantics (truncation for float→int, wraparound for
    narrowing ints) — the same semantics rasterio's astype write has."""
    out_col = out_col or in_col.replace("bytes", "") + "cast_bytes"
    np_dtype = np.dtype(dtype)

    def fn(arr, _row):
        return arr.astype(np_dtype)

    return _map_images(df, fn, in_col, out_col)


# ------------------------------------------- P6: all-zero data-cube guard


def with_all_zero_flag(df: DataFrame, in_col: str = "bytes", flag_col: str = "all_zero") -> DataFrame:
    """P6 empty-cube guard (terrakit_data_fetch.py:141-142: raises
    ``GfmDataProcessingException`` when ``(da.values == 0).all()``). Spark
    shape: a boolean column + downstream filter instead of a per-task
    exception — a poisoned row must not kill the other 10^12."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            out[flag_col] = [
                bool((decode_image(bytes(b)) == 0).all()) for b in pdf[in_col]
            ]
            yield out

    schema = ", ".join(f"{c} {t}" for c, t in df.dtypes) + f", {flag_col} boolean"
    return df.mapInPandas(run, schema)


def drop_all_zero(df: DataFrame, in_col: str = "bytes") -> DataFrame:
    flagged = with_all_zero_flag(df, in_col)
    return flagged.filter(~F_col("all_zero")).drop("all_zero")


# ------------------------------------------------ deterministic inference


def pseudo_inference(df: DataFrame, in_col: str = "bytes", out_col: str = "pred_bytes") -> DataFrame:
    """Deterministic stand-in for the model server (run-inference.py:211):
    per-pixel score = mean over channels / 255, thresholded at 0.5 into a
    float32 {0, 1} mask. Checkable single-node; same tiling semantics apply
    (windows × overlap-average reproduce the full-image result exactly
    because the 'model' is pointwise)."""

    def fn(arr, _row):
        score = arr.astype(np.float32).mean(axis=2, keepdims=True) / 255.0
        return (score > 0.5).astype(np.float32)

    return _map_images(df, fn, in_col, out_col)


def decode_stats(df: DataFrame, in_col: str = "bytes") -> DataFrame:
    """Per-image per-band sum / sumsq / count / min / max — the *partial*
    half of A5's streaming mean/std (claimed_curated_upload_v2.py:533-566);
    groupBy(band).sum() downstream gives the dataset stats with Spark's own
    partial+final aggregation doing the tree-reduce."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, psum, psumsq, pcount, pmin, pmax = [], [], [], [], [], [], []
            for image_id, raw in zip(pdf["image_id"].to_numpy(), pdf[in_col].to_numpy()):
                arr = decode_image(bytes(raw)).astype(np.float64)
                for b in range(arr.shape[2]):
                    plane = arr[:, :, b]
                    valid = plane[plane > NODATA]
                    ids.append(image_id)
                    bands.append(b)
                    psum.append(float(valid.sum()))
                    psumsq.append(float((valid**2).sum()))
                    pcount.append(int(valid.size))
                    pmin.append(float(valid.min()) if valid.size else None)
                    pmax.append(float(valid.max()) if valid.size else None)
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "band": bands,
                    "psum": psum,
                    "psumsq": psumsq,
                    "pcount": pcount,
                    "pmin": pmin,
                    "pmax": pmax,
                }
            )

    return df.mapInPandas(
        run,
        "image_id string, band int, psum double, psumsq double, pcount long, pmin double, pmax double",
    )
