"""Raster pixel operators — per-image stages over the ``bytes`` column
(SURVEY.md §2.8 F1–F10, §3.3 per-task data path).

Each public function is a DataFrame→DataFrame stage. Every row-wise stage
(here and in ``masking``, ``vectorize``, ``regularize`` and ``tiling``) is a
thin caller of ``map_images``, one ``mapInArrow`` loop: pixels only exist
inside it, decoded per row of an Arrow batch (bounded by
``maxRecordsPerBatch``). The chain mirrors the reference's
fetch→impute/scale→infer path (``terrakit_data_fetch.py:84-172`` →
``run-inference.py``), with the model replaced by a deterministic
pseudo-inference so outputs are checkable (SURVEY.md §7.2 step 7).
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.functions import col as F_col

from ..codecs.image import NODATA, decode_image, encode_image


def map_images(
    df: DataFrame,
    fn: Callable[[dict], Iterable[dict]],
    decode: Sequence[str],
    out: str,
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """The one per-row stage loop: a single ``mapInArrow`` over ``df``.

    ``fn(row)`` gets a dict of the row's columns, each ``decode`` column
    decoded to an HxWxC ndarray, and returns zero or more output dicts over
    the ``out`` fields (a DDL string); an ndarray value is encoded raw. The
    ``keep`` columns (default: all of ``df``) pass through with ``df``'s
    own types; an ``out`` field named like a kept column replaces it in
    place. Output batches hold at most the session's ``maxRecordsPerBatch``
    rows, whatever the fan-out. Exceptions raised in ``fn`` propagate
    unchanged."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DataType, StructType

    keep = list(df.columns if keep is None else keep)
    fields = DataType.fromDDL(out).fields
    by_name = {f.name: f for f in fields}
    schema = StructType(
        [by_name.get(c, df.schema[c]) for c in keep] + [f for f in fields if f.name not in keep]
    )
    passed = [c for c in keep if c not in by_name]
    types = {f.name: to_arrow_type(f.dataType) for f in fields}
    cap = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def run(batches):
        return _arrow_loop(batches, fn, decode, passed, types, schema.names, cap)

    return df.mapInArrow(run, schema)


def _arrow_loop(batches, fn, decode, passed, types, names, cap):
    """``map_images``'s worker side. Each output is encoded as ``fn`` yields
    it, so no view of a decoded image outlives its row, and a batch is
    yielded every ``cap`` outputs (``cap`` <= 0: once per input batch).
    Kept columns are sliced from the input batch, never converted."""
    import pyarrow as pa

    def batch(rb, parents, outs):
        n, p0 = len(parents), parents[0]
        if parents == list(range(p0, p0 + n)):  # one output per row
            arrays = {c: rb.column(c).slice(p0, n) for c in passed}
        else:
            arrays = {c: pa.concat_arrays([rb.column(c).slice(i, 1) for i in parents]) for c in passed}
        for c, t in types.items():
            arrays[c] = _arrow_column([o[c] for o in outs], t)
        return pa.RecordBatch.from_arrays([arrays[c] for c in names], names=names)

    for rb in batches:
        cols = rb.to_pydict()
        parents, outs = [], []
        for i in range(rb.num_rows):
            row = {c: v[i] for c, v in cols.items()}
            for c in decode:
                row[c] = decode_image(row[c])
            for o in fn(row):
                parents.append(i)
                outs.append(
                    {c: encode_image(o[c], "raw") if isinstance(o[c], np.ndarray) else o[c] for c in types}
                )
                if len(outs) == cap:
                    yield batch(rb, parents, outs)
                    parents, outs = [], []
        if outs:
            yield batch(rb, parents, outs)


#: Arrow type name -> (numpy dtype, numpy kinds it takes without loss)
_FIXED_WIDTH = {
    "bool": (np.bool_, "b"),
    "int32": (np.int32, "iu"),
    "int64": (np.int64, "iu"),
    "double": (np.float64, "iuf"),
}


def _arrow_column(vals: list, t):
    """``vals`` as an Arrow array of type ``t``. The binary, string, bool and
    numeric fields that stages emit are built from buffers: ``pa.array`` on
    Python values imports pandas on its first call in each Python worker,
    about 0.3 s on a task's critical path. Other types, and values numpy
    would convert lossily, go through ``pa.array`` (which raises on loss)."""
    import pyarrow as pa

    n, name = len(vals), str(t)
    valid = np.fromiter((v is not None for v in vals), bool, n)
    nulls = None if valid.all() else pa.py_buffer(np.packbits(valid, bitorder="little"))
    if name in ("binary", "string"):
        items = [b"" if v is None else v.encode() if isinstance(v, str) else v for v in vals]
        ends = np.cumsum([len(b) for b in items], dtype=np.int64)
        if n and ends[-1] >= 2**31:
            raise ValueError(
                f"{ends[-1]} bytes in one {name} batch; lower spark.sql.execution.arrow.maxRecordsPerBatch"
            )
        offsets = np.concatenate([[0], ends]).astype(np.int32)
        return pa.Array.from_buffers(t, n, [nulls, pa.py_buffer(offsets), pa.py_buffer(b"".join(items))])
    if name not in _FIXED_WIDTH:
        return pa.array(vals, type=t)
    dtype, kinds = _FIXED_WIDTH[name]
    raw = np.array([dtype() if v is None else v for v in vals])
    data = raw.astype(dtype)
    if raw.dtype.kind not in kinds or not np.array_equal(data, raw, equal_nan=raw.dtype.kind == "f"):
        return pa.array(vals, type=t)
    if name == "bool":
        data = np.packbits(data, bitorder="little")
    return pa.Array.from_buffers(t, n, [nulls, pa.py_buffer(data)])


# --------------------------------------------------------- F1: to_decibels


def to_decibels(df: DataFrame, in_col: str = "bytes", out_col: str = "db_bytes", bands=(0, 1)) -> DataFrame:
    """10·log10(x) applied to the given band planes (S1GRD bands 0–1 only,
    terrakit_data_fetch.py:41-49); zeros map to NODATA instead of -inf."""

    def fn(row):
        out = row[in_col].astype(np.float32)
        for b in bands:
            if b < out.shape[2]:
                plane = out[:, :, b]
                with np.errstate(divide="ignore"):
                    out[:, :, b] = np.where(plane > 0, 10.0 * np.log10(plane), NODATA)
        yield {out_col: out}

    return map_images(df, fn, [in_col], f"{out_col} binary")


# -------------------------------------------------------- F2: band scaling


def scale_bands(df: DataFrame, factors: list[float], in_col: str = "bytes", out_col: str = "scaled_bytes") -> DataFrame:
    """Per-band multiply by scaling_factor (terrakit_data_fetch.py:149-152);
    missing factors default to 1.0 like the reference's spec lookup."""
    fac = np.asarray(factors, dtype=np.float32)

    def fn(row):
        out = row[in_col].astype(np.float32)
        n = min(out.shape[2], len(fac))
        out[:, :, :n] *= fac[:n]
        yield {out_col: out}

    return map_images(df, fn, [in_col], f"{out_col} binary")


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


def _warp_row(row, in_col, src_crs_col, dst_crs, bounds_cols, h_col, w_col, method):
    """F7 inverse-mapping warp of one row's raster onto an (h, w) grid over
    its bbox transformed into ``dst_crs``; returns (dst bounds, pixels)."""
    from ..geo import crs as C

    src_crs = str(row[src_crs_col])
    src_bounds = tuple(row[c] for c in bounds_cols)
    xs, ys = C.transform_points(
        src_crs, dst_crs, np.array([src_bounds[0], src_bounds[2]]), np.array([src_bounds[1], src_bounds[3]])
    )
    dst_bounds = (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1]))
    warped = C.warp_array(
        row[in_col], src_bounds, src_crs, dst_bounds, dst_crs, int(row[h_col]), int(row[w_col]), method
    )
    return dst_bounds, warped


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
    out_col = in_col.replace("bytes", "") + "aligned_bytes"
    if src_crs_col is not None and dst_crs is not None:

        def fn(row):
            _, warped = _warp_row(row, in_col, src_crs_col, dst_crs, bounds_cols, target_h, target_w, method)
            yield {out_col: warped}

    else:

        def fn(row):
            yield {out_col: resize_array(row[in_col], int(row[target_h]), int(row[target_w]), method)}

    return map_images(df, fn, [in_col], f"{out_col} binary")


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
    out_col = out_col or in_col.replace("bytes", "") + "warped_bytes"

    def fn(row):
        dst_bounds, warped = _warp_row(row, in_col, src_crs_col, dst_crs, bounds_cols, out_h_col, out_w_col, method)
        yield {**dict(zip(bounds_cols, dst_bounds)), src_crs_col: dst_crs, out_col: warped}

    # warped bounds are double regardless of input
    out = ", ".join(f"{c} double" for c in bounds_cols)
    return map_images(df, fn, [in_col], f"{out}, {src_crs_col} string, {out_col} binary")


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

    def fn(row):
        arr = row[in_col]
        if max(idxs) >= arr.shape[2]:
            raise ValueError(f"image has {arr.shape[2]} bands; RGB spec wants {idxs}")
        yield {out_col: arr[:, :, idxs].astype(np.float32)}

    return map_images(df, fn, [in_col], f"{out_col} binary")


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
    # imported here: a Python worker that runs only ``map_images`` stages
    # never needs pandas, whose import costs a fresh worker ~0.4 s (4-CPU host)
    import pandas as pd

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

    def fn(row):
        yield {out_col: row[in_col].astype(np_dtype)}

    return map_images(df, fn, [in_col], f"{out_col} binary")


# ------------------------------------------- P6: all-zero data-cube guard


def with_all_zero_flag(df: DataFrame, in_col: str = "bytes", flag_col: str = "all_zero") -> DataFrame:
    """P6 empty-cube guard (terrakit_data_fetch.py:141-142: raises
    ``GfmDataProcessingException`` when ``(da.values == 0).all()``). Spark
    shape: a boolean column + downstream filter instead of a per-task
    exception — a poisoned row must not kill the other 10^12."""

    def fn(row):
        yield {flag_col: bool((row[in_col] == 0).all())}

    return map_images(df, fn, [in_col], f"{flag_col} boolean")


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

    def fn(row):
        score = row[in_col].astype(np.float32).mean(axis=2, keepdims=True) / 255.0
        yield {out_col: (score > 0.5).astype(np.float32)}

    return map_images(df, fn, [in_col], f"{out_col} binary")


def decode_stats(df: DataFrame, in_col: str = "bytes") -> DataFrame:
    """Per-image per-band sum / sumsq / count / min / max — the *partial*
    half of A5's streaming mean/std (claimed_curated_upload_v2.py:533-566);
    groupBy(band).sum() downstream gives the dataset stats with Spark's own
    partial+final aggregation doing the tree-reduce."""

    def fn(row):
        arr = row[in_col].astype(np.float64)
        for b in range(arr.shape[2]):
            plane = arr[:, :, b]
            valid = plane[plane > NODATA]
            yield {
                "band": b,
                "psum": float(valid.sum()),
                "psumsq": float((valid**2).sum()),
                "pcount": int(valid.size),
                "pmin": float(valid.min()) if valid.size else None,
                "pmax": float(valid.max()) if valid.size else None,
            }

    return map_images(
        df,
        fn,
        [in_col],
        "band int, psum double, psumsq double, pcount long, pmin double, pmax double",
        keep=["image_id"],
    )
