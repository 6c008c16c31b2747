"""Masking suite — SCL scene-class, HLS bit-packed QA, value sentinels
(SURVEY.md §2.3 J4, §2.8 F11–F12).

Reference semantics reproduced exactly
(``postprocess_generic_helper_functions.py``):

* sentinel values: CLOUD=999, SNOW_OR_ICE=998, PERMANENT_WATER=997 (:38-52)
* ``s2_masking`` (:136-168): prediction pixels where the QA band ∈ the class
  list are set to the sentinel value
* ``hls_masking`` (:120-133): a QA *byte* is bad when any bit set in the
  mask-bit template is also set in the byte — computed here as a 256-entry
  lookup table instead of per-value string formatting
* LULC water class [1] (:50)

The raster-mask join (J4) is an equi-join on image_id followed by numpy
broadcasting per joined row in ``raster.map_images`` — the Spark shape of
"align the prediction with the input's QA band".
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame

from ..codecs.image import NODATA
from ..geo.wkb import dumps_polygon
from ..geo.wkb import polygon_rings as wkb_rings
from .raster import map_images

if TYPE_CHECKING:  # the stages' Python workers need no pandas (see raster.stack_bands)
    import pandas as pd

CLOUD_VALUE = 999.0
SNOW_OR_ICE_VALUE = 998.0
PERMANENT_WATER_VALUE = 997.0
S2_CLOUD_MASK = [3, 8, 9]
S2_SNOW_OR_ICE_MASK = [11]
S2_PERMANENT_WATER_MASK = [6]
LULC_PERMANENT_WATER_MASK = [1]
HLS_CLOUD_BITS = "00001111"
HLS_SNOW_BITS = "00010000"
HLS_WATER_BITS = "00100000"


def s2_mask_array(pred: np.ndarray, qa: np.ndarray, classes: list[int], value: float) -> np.ndarray:
    """Pointwise twin of s2_masking: where qa ∈ classes → value."""
    mask = np.isin(qa[:, :, 0], classes)
    out = pred.astype(np.float32).copy()
    out[mask] = value
    return out


def hls_bad_lut(mask_bits: str) -> np.ndarray:
    """256-entry bool LUT: byte v is bad iff (v & bits) != 0 — equivalent to
    the reference's per-value binary-string comparison (:122-128)."""
    bits = int(mask_bits, 2)
    v = np.arange(256, dtype=np.int64)
    return (v & bits) != 0


def hls_mask_array(pred: np.ndarray, qa_bytes: np.ndarray, mask_bits: str, value: float) -> np.ndarray:
    bad = hls_bad_lut(mask_bits)[qa_bytes[:, :, 0].astype(np.int64)]
    out = pred.astype(np.float32).copy()
    out[bad] = value
    return out


_CHAIN = [
    ("cloud", "s2", S2_CLOUD_MASK, HLS_CLOUD_BITS, CLOUD_VALUE),
    ("snow_or_ice", "s2", S2_SNOW_OR_ICE_MASK, HLS_SNOW_BITS, SNOW_OR_ICE_VALUE),
    ("permanent_water", "s2", S2_PERMANENT_WATER_MASK, HLS_WATER_BITS, PERMANENT_WATER_VALUE),
]


def apply_mask_chain(
    preds: DataFrame,
    qa: DataFrame,
    pred_col: str = "pred_bytes",
    qa_col: str = "qa_bytes",
    kinds: tuple[str, ...] = ("cloud", "snow_or_ice", "permanent_water"),
    scheme: str = "s2",
    out_col: str = "masked_bytes",
) -> DataFrame:
    """J4 + F11/F12: join predictions with QA rasters on image_id, apply the
    masking chain in the reference's order (cloud → snow → water,
    postprocess-generic-single.py:68-113). ``scheme``: 's2' uses class-code
    matching on the QA band; 'hls' uses the bit-packed LUT on ``qa_col``.
    """
    joined = preds.join(qa.select("image_id", qa_col), "image_id")
    steps = [c for c in _CHAIN if c[0] in kinds]

    def fn(row):
        pred, qa_arr = row[pred_col], row[qa_col]
        for _name, _s, classes, bits, value in steps:
            if scheme == "s2":
                pred = s2_mask_array(pred, qa_arr, classes, value)
            else:
                pred = hls_mask_array(pred, qa_arr, bits, value)
        yield {out_col: pred.astype(np.float32)}

    return map_images(joined, fn, [pred_col, qa_col], f"{out_col} binary", keep=preds.columns)


def _world_rings_to_pixel(rings, minx, miny, maxx, maxy, w, h):
    """Affine world→pixel for a y-down grid over (minx..maxy)."""
    out = []
    for r in rings:
        px = (r[:, 0] - minx) / (maxx - minx) * w
        py = (maxy - r[:, 1]) / (maxy - miny) * h
        out.append(np.column_stack([px, py]))
    return out


def _vector_mask_op(
    images: DataFrame,
    layer_pdf: pd.DataFrame,
    in_col: str,
    out_col: str,
    fn,
    bounds_cols: tuple[str, str, str, str],
):
    """Shared scaffolding for F13/F14: broadcast the packed vector layer
    (R-tree + decoded rings, same pack as the broadcast spatial join), then
    per image: R-tree bbox query → ``fn(arr, rings in pixel space)``. The
    layer crosses the wire once per executor and is unpacked on a task's
    first image; pixels never leave the Arrow batch."""
    import pickle

    from .spatial_join import pack_aois

    layer_pdf = layer_pdf.copy()
    if "aoi_id" not in layer_pdf.columns:
        layer_pdf["aoi_id"] = np.arange(len(layer_pdf))
    packed = pack_aois(layer_pdf)
    bc = images.sparkSession.sparkContext.broadcast(packed)
    layer: dict = {}

    def mask_row(row):
        if not layer:
            layer.update(pickle.loads(bc.value))
        arr = row[in_col]
        h, w = arr.shape[0], arr.shape[1]
        bounds = [row[c] for c in bounds_cols]
        _, ti = layer["tree"].query_many(np.array([bounds]))
        pix_polys = [_world_rings_to_pixel(layer["rings"][t], *bounds, w, h) for t in ti]
        yield {out_col: fn(arr, pix_polys, w, h)}

    return map_images(images, mask_row, [in_col], f"{out_col} binary")


def mask_ocean(
    images: DataFrame,
    land_pdf: pd.DataFrame,
    in_col: str = "bytes",
    out_col: str = "land_bytes",
    bounds_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
) -> DataFrame:
    """F13 ``mask_ocean`` (postprocess_generic_helper_functions.py:286-298):
    clip each raster to the land-polygon layer — pixels whose center falls
    outside every land polygon become NODATA (rio.clip semantics). The land
    layer is the reference's constant ``LAND_POLYGON_PATH`` file re-read per
    task; here it is packed once and broadcast."""
    from .vectorize import rasterize_polygons

    def fn(arr, pix_polys, w, h):
        land = np.zeros((h, w), dtype=bool)
        for rings in pix_polys:
            land |= rasterize_polygons([(rings, 1.0)], (h, w), all_touched=False) > 0
        out = arr.astype(np.float32).copy()
        out[~land] = NODATA
        return out

    return _vector_mask_op(images, land_pdf, in_col, out_col, fn, bounds_cols)


def mask_from_layer(
    images: DataFrame,
    layer_pdf: pd.DataFrame,
    buffer_size_m: float = 100.0,
    burn_value: float = 90.0,
    in_col: str = "bytes",
    out_col: str = "masked_url_bytes",
    bounds_cols: tuple[str, str, str, str] = ("minx", "miny", "maxx", "maxy"),
) -> DataFrame:
    """F14 ``mask_from_url`` (postprocess_generic_helper_functions.py:267-283):
    clip the vector layer to the raster bbox, buffer each polygon by
    ``buffer_size_m`` *meters in EPSG:3857* (reference: to_crs(3857) →
    buffer → back), rasterize with ``burn_value`` onto the raster grid
    (overwriting pixels, rasterize-with-out= semantics). The layer arrives
    as a DataFrame of WKB polygons instead of a URL — ingest is the S3 scan
    path, not this operator."""
    from ..geo import crs as C
    from ..geo.geometry import buffer_ring
    from .vectorize import rasterize_polygons

    # buffer once, driver-side, in web-mercator meters — the layer is
    # job-level; per-image work stays a rasterize
    buffered = layer_pdf.copy()
    new_wkb = []
    for raw in buffered["geom_wkb"]:
        rings = wkb_rings(bytes(raw))
        out_rings = []
        for r in rings:
            mx, my = C.lonlat_to_webmerc(r[:, 0], r[:, 1])
            br = buffer_ring(np.column_stack([mx, my]), buffer_size_m)
            lon, lat = C.webmerc_to_lonlat(br[:, 0], br[:, 1])
            out_rings.append(np.column_stack([lon, lat]))
        new_wkb.append(dumps_polygon(out_rings))
    buffered["geom_wkb"] = new_wkb  # pack_aois re-derives envelopes from rings

    def fn(arr, pix_polys, w, h):
        out = arr.astype(np.float32).copy()
        if pix_polys:
            burn = rasterize_polygons(
                [(rings, burn_value) for rings in pix_polys], (h, w), all_touched=False
            )
            out[burn > 0] = burn_value
        return out

    return _vector_mask_op(images, buffered, in_col, out_col, fn, bounds_cols)


def mask_chain_oracle(pred: np.ndarray, qa: np.ndarray, scheme: str = "s2") -> np.ndarray:
    """Single-node oracle applying the same chain with the straight-line
    reference recipe (isin → where → fillna ≡ assignment)."""
    out = pred.astype(np.float32).copy()
    for _name, _s, classes, bits, value in _CHAIN:
        if scheme == "s2":
            m = np.isin(qa[:, :, 0], classes)
        else:
            m = (qa[:, :, 0].astype(np.int64) & int(bits, 2)) != 0
        out[m] = value
    return out
