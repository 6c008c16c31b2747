"""Mosaic aggregations (SURVEY.md §2.4 A1–A4) + sliding-window overlap
reassembly (W3's ``average_patches=True``).

Reference semantics (``raster_data_operations.py:171-360``): six VRT pixel
functions — first / last / min / max / median / average — reduce the *tile
axis* per pixel, treating NODATA (−9999) as missing. ``first``/``last`` pick
the first/last tile (by tile order) with a valid pixel.

Spark shape: the reduction is a grouped-map ``applyInPandas`` over the mosaic
key (cell id / date) — the UDAF-equivalent the reference implements as
user-injectable VRT Python pixel functions (SURVEY.md §2.10). All rasters in
a group must share a grid (the reference requires the same: VRT inputs are
pre-warped to a common grid).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..codecs.image import NODATA, decode_image, encode_image

METHODS = ("first", "last", "min", "max", "median", "average")


def mosaic_reduce(stack: np.ndarray, method: str) -> np.ndarray:
    """(T, H, W, C) float stack with NaN for missing → (H, W, C).

    numpy twin of the reference pixel functions (raster_data_operations.py
    :171-257): nan-aware reductions; first/last = argmin/argmax over the
    tile index of valid pixels; all-NaN pixels return NODATA.
    """
    if method == "average":
        with np.errstate(invalid="ignore"):
            out = np.nanmean(stack, axis=0)
    elif method == "median":
        with np.errstate(invalid="ignore"):
            out = np.nanmedian(stack, axis=0)
    elif method == "min":
        with np.errstate(invalid="ignore"):
            out = np.nanmin(stack, axis=0)
    elif method == "max":
        with np.errstate(invalid="ignore"):
            out = np.nanmax(stack, axis=0)
    elif method in ("first", "last"):
        valid = ~np.isnan(stack)
        t = stack.shape[0]
        idx = np.arange(t).reshape(t, 1, 1, 1)
        if method == "first":
            pick = np.where(valid, idx, t)  # reference: groupby.min() of tile index
            sel = pick.min(axis=0)
        else:
            pick = np.where(valid, idx, -1)  # groupby.max()
            sel = pick.max(axis=0)
        sel_c = np.clip(sel, 0, t - 1)
        out = np.take_along_axis(stack, sel_c[None, ...], axis=0)[0]
        out = np.where((sel == t) | (sel == -1), np.nan, out)
    else:
        raise ValueError(f"method {method!r} not in {METHODS}")
    return np.where(np.isnan(out), NODATA, out).astype(np.float32)


def mosaic(
    df: DataFrame,
    key_cols: list[str],
    method: str = "average",
    in_col: str = "bytes",
    order_col: str | None = "image_id",
    out_col: str = "mosaic_bytes",
) -> DataFrame:
    """Grouped mosaic: one output raster per ``key_cols`` group.

    ``order_col`` fixes the tile order for first/last (and makes every
    method deterministic under Spark's nondeterministic group iteration).
    Skew note: a hot mosaic key (many tiles on one cell) concentrates work;
    at scale feed this from cell-tiled inputs so group size is bounded by
    the tiling fan-out, and pre-aggregate counts to detect outliers.
    """
    if method not in METHODS:
        raise ValueError(f"method {method!r} not in {METHODS}")
    schema = (
        ", ".join(f"{c} {t}" for c, t in df.dtypes if c in key_cols)
        + f", n_tiles int, {out_col} binary"
    )

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if order_col is not None:
            pdf = pdf.sort_values(order_col, kind="mergesort")
        arrs = [decode_image(bytes(b)).astype(np.float32) for b in pdf[in_col]]
        stack = np.stack(arrs, axis=0)
        stack[stack <= NODATA] = np.nan
        out = mosaic_reduce(stack, method)
        res = pdf.iloc[:1][key_cols].copy()
        res["n_tiles"] = len(arrs)
        res[out_col] = [encode_image(out, "raw")]
        return res

    return df.groupBy(*key_cols).applyInPandas(reduce_group, schema)


def overlap_average(
    windows: DataFrame,
    out_col: str = "merged_bytes",
    pred_col: str = "win_pred_bytes",
) -> DataFrame:
    """Reassemble per-window predictions into full images, averaging overlaps
    — terratorch's ``average_patches=True`` (terratorch_inference.py:92-101).

    Input rows: (image_id, w, h, win_col_off, win_row_off, pred bytes).
    Grouped by image; sum/count accumulation per pixel.
    """

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        w = int(pdf["w"].iloc[0])
        h = int(pdf["h"].iloc[0])
        first = decode_image(bytes(pdf[pred_col].iloc[0]))
        c = first.shape[2]
        acc = np.zeros((h, w, c), dtype=np.float64)
        cnt = np.zeros((h, w, 1), dtype=np.int64)
        for _, row in pdf.iterrows():
            arr = decode_image(bytes(row[pred_col])).astype(np.float64)
            y0, x0 = int(row["win_row_off"]), int(row["win_col_off"])
            hh, ww = arr.shape[0], arr.shape[1]
            acc[y0 : y0 + hh, x0 : x0 + ww] += arr
            cnt[y0 : y0 + hh, x0 : x0 + ww] += 1
        with np.errstate(invalid="ignore", divide="ignore"):
            out = np.where(cnt > 0, acc / np.maximum(cnt, 1), NODATA).astype(np.float32)
        return pd.DataFrame(
            {"image_id": [pdf["image_id"].iloc[0]], "w": [w], "h": [h], out_col: [encode_image(out, "raw")]}
        )

    id_type = dict(windows.dtypes)["image_id"]
    return windows.groupBy("image_id").applyInPandas(
        merge, f"image_id {id_type}, w int, h int, {out_col} binary"
    )
