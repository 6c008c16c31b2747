"""Tiling operators — cell assignment, bbox grid tiling, sliding windows.

Reproduces the reference planner's tiling semantics (SURVEY.md §2.5 W1–W3):

* ``tile_bbox`` grid split when a bbox exceeds 2400 px
  (``inference_planner_functions.py:46-78``)
* sub-244-px padding to 2·(224/2 + 50) px around the center
  (``inference_planner_functions.py:83-108``)
* 224-px / 208-stride sliding inference windows, final window flushed to the
  edge (``terratorch_inference.py:92-101`` tiled_inference_parameters)

— re-expressed Spark-first: tiles and windows are *rows produced by
expressions* (``sequence`` + ``explode``), never driver-side loops, so tile
generation itself scales with the cluster. The north rule's upgrade replaces
the ad-hoc planner grid with hex cell ids (res 5–12 by footprint extent).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import spatial as S
from ..index import hexgrid

MAX_TILE_PX = 2400
GRID_TILE_PX = 2200.0
MIN_TILE_PX = 244
PAD_HALF_PX = 224 // 2 + 50  # reference: int(224/2) + 50
WINDOW = 224
STRIDE = 208


# ----------------------------------------------------------- cell tiling


def with_cell(df: DataFrame, res: int | None = None, min_res: int = 5, max_res: int = 12) -> DataFrame:
    """Assign each image footprint a hex cell id.

    Fixed ``res`` → single codegen'd expression. ``res=None`` → per-image
    adaptive resolution (coarser for bigger footprints — the analog of the
    planner's area-threshold plan switch, inference_planner.py:153-163),
    also fully expression-based (log/floor/pow are Catalyst builtins).
    """
    if res is not None:
        return df.withColumn("res", F.lit(res)).withColumn(
            "cell_id", S.hex_cell(F.col("lat"), F.col("lon"), res)
        )
    extent = F.greatest(F.col("maxx") - F.col("minx"), F.col("maxy") - F.col("miny"))
    res_col = F.least(
        F.lit(max_res).cast("long"),
        F.greatest(
            F.lit(min_res).cast("long"),
            F.floor(
                F.log(F.lit(hexgrid._BASE_SIZE) / F.greatest(extent, F.lit(1e-12)))
                / F.lit(math.log(math.sqrt(7.0)))
            ),
        ),
    )
    df = df.withColumn("res", res_col)
    size = F.lit(hexgrid._BASE_SIZE) / F.pow(F.lit(math.sqrt(7.0)), F.col("res").cast("double"))
    qf = (F.lit(math.sqrt(3.0) / 3.0) * F.col("lon") - F.col("lat") / F.lit(3.0)) / size
    rf = (F.lit(2.0 / 3.0) * F.col("lat")) / size
    q, r = S._axial_round_expr(qf, rf)
    cell = (
        F.col("res").cast("long") * F.lit(1 << 58).cast("long")
        + (q + F.lit(hexgrid._OFF)) * F.lit(1 << 29).cast("long")
        + (r + F.lit(hexgrid._OFF))
    )
    return df.withColumn("cell_id", cell)


def explode_cover_cells_expr(
    df: DataFrame, res: int, bbox_cols=("minx", "miny", "maxx", "maxy")
) -> DataFrame:
    """Pure-expression covering-cell explode: one row per (row, hex cell that
    truly overlaps the bbox) at ``res`` — the codegen twin of
    ``explode_cover_cells``.

    Variable fan-out IS expressible in Catalyst: two chained
    ``explode(sequence(lo, hi))`` generators enumerate the axial (q, r)
    range of the padded bbox, then an exact hex-vs-AABB separating-axis test
    (4 axes: x, y, and the two slanted hex edge normals) keeps only truly
    overlapping cells. Everything stays inside WholeStageCodegen — no Arrow
    round-trip, unlike the pandas version — and the tight SAT cover emits
    ~35%% fewer candidate rows than the centre-within-circumradius superset.

    Correctness contract (relied on by ``partitioned_spatial_join``'s
    reference-point dedup): the emitted set is a superset of every hex that
    overlaps the bbox (1e-9° slack absorbs fp wobble); extra cells are
    harmless because a cell only produces output if it equals the
    deterministic ``hex_cell(ref_point)``.
    """
    size = float(hexgrid.cell_size(res))
    pad = size * 1.001  # ≥ circumradius: every overlapping hex centre is inside
    eps = 1e-9
    sqrt3 = math.sqrt(3.0)
    bminx, bminy, bmaxx, bmaxy = (F.col(c) for c in bbox_cols)
    # axial range of hex centres within `pad` of the bbox (q rises with lng,
    # falls with lat; r rises with lat) — same formulas as the numpy twin
    qmin = (F.lit(sqrt3 / 3.0) * (bminx - pad) - (bmaxy + pad) / 3.0) / size
    qmax = (F.lit(sqrt3 / 3.0) * (bmaxx + pad) - (bminy - pad) / 3.0) / size
    rmin = F.lit(2.0 / 3.0) * (bminy - pad) / size
    rmax = F.lit(2.0 / 3.0) * (bmaxy + pad) / size
    df = df.withColumn("__q", F.explode(F.sequence(F.floor(qmin), F.ceil(qmax))))
    df = df.withColumn("__r", F.explode(F.sequence(F.floor(rmin), F.ceil(rmax))))
    q = F.col("__q").cast("double")
    r = F.col("__r").cast("double")
    clng = F.lit(size * sqrt3) * (q + r / 2.0)
    clat = F.lit(size * 1.5) * r
    dx = (bminx + bmaxx) / 2.0 - clng
    dy = (bminy + bmaxy) / 2.0 - clat
    hw = (bmaxx - bminx) / 2.0
    hh = (bmaxy - bminy) / 2.0
    apo = sqrt3 / 2.0 * size  # apothem: hex half-width on edge-normal axes
    keep = (
        (F.abs(dx) <= F.lit(apo) + hw + F.lit(eps))
        & (F.abs(dy) <= F.lit(size) + hh + F.lit(eps))
        & (
            F.abs(dx * 0.5 + F.lit(sqrt3 / 2.0) * dy)
            <= F.lit(apo) + hw * 0.5 + F.lit(sqrt3 / 2.0) * hh + F.lit(eps)
        )
        & (
            F.abs(F.lit(sqrt3 / 2.0) * dy - dx * 0.5)
            <= F.lit(apo) + hw * 0.5 + F.lit(sqrt3 / 2.0) * hh + F.lit(eps)
        )
    )
    cell = (
        F.lit(res << 58).cast("long")
        + (F.col("__q") + F.lit(hexgrid._OFF)) * F.lit(1 << 29).cast("long")
        + (F.col("__r") + F.lit(hexgrid._OFF))
    )
    return df.filter(keep).withColumn("cell_id", cell).drop("__q", "__r")


def cover_cell_qr(minx, miny, maxx, maxy, res: int):
    """Numpy twin of ``explode_cover_cells_expr`` for ONE bbox: (q, r) arrays
    of hex cells truly overlapping it (same ranges, same SAT, same eps), so a
    pandas-UDF producer (the AOI side of the partitioned join) emits a cover
    consistent with the codegen image side."""
    size = float(hexgrid.cell_size(res))
    pad = size * 1.001
    eps = 1e-9
    sqrt3 = float(np.sqrt(3.0))
    q0 = int(np.floor((sqrt3 / 3.0 * (minx - pad) - (maxy + pad) / 3.0) / size))
    q1 = int(np.ceil((sqrt3 / 3.0 * (maxx + pad) - (miny - pad) / 3.0) / size))
    r0 = int(np.floor(2.0 / 3.0 * (miny - pad) / size))
    r1 = int(np.ceil(2.0 / 3.0 * (maxy + pad) / size))
    q, r = np.meshgrid(np.arange(q0, q1 + 1), np.arange(r0, r1 + 1), indexing="ij")
    q, r = q.ravel().astype(np.float64), r.ravel().astype(np.float64)
    clng = size * sqrt3 * (q + r / 2.0)
    clat = size * 1.5 * r
    dx = (minx + maxx) / 2.0 - clng
    dy = (miny + maxy) / 2.0 - clat
    hw = (maxx - minx) / 2.0
    hh = (maxy - miny) / 2.0
    apo = sqrt3 / 2.0 * size
    slant = apo + hw * 0.5 + sqrt3 / 2.0 * hh + eps
    keep = (
        (np.abs(dx) <= apo + hw + eps)
        & (np.abs(dy) <= size + hh + eps)
        & (np.abs(dx * 0.5 + sqrt3 / 2.0 * dy) <= slant)
        & (np.abs(sqrt3 / 2.0 * dy - dx * 0.5) <= slant)
    )
    return q[keep].astype(np.int64), r[keep].astype(np.int64)


def explode_cover_cells(df: DataFrame, res: int, bbox_cols=("minx", "miny", "maxx", "maxy")) -> DataFrame:
    """One row per (row, covering cell): covers each bbox with all hex cells
    it may overlap at ``res`` — the same superset-safe cell set as
    ``hexgrid.bbox_to_cells``, but enumerated for the WHOLE Arrow batch in
    one numpy pass (repeat/arange over per-row axial ranges) instead of a
    Python call per row. Variable-length fan-out can't be a closed-form
    Catalyst expression; this is the next-best shape: one ``mapInPandas``
    stage whose cost is the output row count, not the input row count."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(df.schema.fields + [StructField("cell_id", LongType())])
    cminx, cminy, cmaxx, cmaxy = bbox_cols
    size = float(hexgrid.cell_size(res))
    pad = size * 1.001
    sqrt3 = float(np.sqrt(3.0))

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            minx = pdf[cminx].to_numpy(dtype=np.float64) - pad
            miny = pdf[cminy].to_numpy(dtype=np.float64) - pad
            maxx = pdf[cmaxx].to_numpy(dtype=np.float64) + pad
            maxy = pdf[cmaxy].to_numpy(dtype=np.float64) + pad
            # q is increasing in lng, decreasing in lat; r increasing in lat
            qmin = (sqrt3 / 3.0 * minx - maxy / 3.0) / size
            qmax = (sqrt3 / 3.0 * maxx - miny / 3.0) / size
            rmin = (2.0 / 3.0 * miny) / size
            rmax = (2.0 / 3.0 * maxy) / size
            q0 = np.floor(qmin).astype(np.int64) - 1
            q1 = np.ceil(qmax).astype(np.int64) + 1
            r0 = np.floor(rmin).astype(np.int64) - 1
            r1 = np.ceil(rmax).astype(np.int64) + 1
            nr = r1 - r0 + 1
            counts = (q1 - q0 + 1) * nr
            total = int(counts.sum())
            row = np.repeat(np.arange(len(pdf), dtype=np.int64), counts)
            starts = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            t = np.arange(total, dtype=np.int64) - starts[row]
            q = q0[row] + t // nr[row]
            r = r0[row] + t % nr[row]
            # keep cells whose center is within one circumradius of the bbox
            clng = size * sqrt3 * (q + r / 2.0)
            clat = size * 1.5 * r
            keep = (
                (clng >= minx[row]) & (clng <= maxx[row])
                & (clat >= miny[row]) & (clat <= maxy[row])
            )
            row, q, r = row[keep], q[keep], r[keep]
            out = pdf.iloc[row].reset_index(drop=True)
            out["cell_id"] = hexgrid._pack(
                np.full(len(q), res, dtype=np.int64), q, r
            )
            yield out

    return df.mapInPandas(cover, out_schema)


# ------------------------------------------------- planner-grid tiling (W1)


def grid_tiles_expr(df: DataFrame, resolution_m: float = 10.0) -> DataFrame:
    """Split each footprint bbox into the reference planner's ≤2400-px grid,
    entirely with ``sequence``/``explode`` expressions (one shuffle-free
    codegen stage; the tile fan-out is row amplification, not driver work).

    Adds: tile_x, tile_y (grid ordinals), tile_minx/miny/maxx/maxy,
    tile_w_px, tile_h_px. Mirrors ``tile_bbox`` (inference_planner_functions
    .py:46-68): numLon=floor(w_px/2200) etc.; each grid step is
    (extent × 2200/size_px); the last row/column is clamped to the bbox edge.
    A bbox of at most 2400 px in both dims is one tile over its whole extent.
    """
    res_lat = S.resolution_deg_lat((F.col("miny") + F.col("maxy")) / 2, resolution_m)
    res_lon = S.resolution_deg_lon((F.col("miny") + F.col("maxy")) / 2, resolution_m)
    w_px = (F.col("maxx") - F.col("minx")) / res_lon
    h_px = (F.col("maxy") - F.col("miny")) / res_lat
    df = df.withColumns({"px_w": w_px, "px_h": h_px, "res_lon_deg": res_lon, "res_lat_deg": res_lat})
    needs_split = (F.col("px_w") > MAX_TILE_PX) | (F.col("px_h") > MAX_TILE_PX)
    num_lon = F.when(needs_split, F.floor(F.col("px_w") / GRID_TILE_PX)).otherwise(F.lit(0))
    num_lat = F.when(needs_split, F.floor(F.col("px_h") / GRID_TILE_PX)).otherwise(F.lit(0))
    # a bbox that needs no split is one tile: its step spans the whole extent
    lon_step = (F.col("maxx") - F.col("minx")) * F.when(needs_split, GRID_TILE_PX / F.col("px_w")).otherwise(1.0)
    lat_step = (F.col("maxy") - F.col("miny")) * F.when(needs_split, GRID_TILE_PX / F.col("px_h")).otherwise(1.0)
    df = (
        df.withColumn("tile_x", F.explode(F.sequence(F.lit(0), num_lon)))
        .withColumn("tile_y", F.explode(F.sequence(F.lit(0), num_lat)))
        .withColumns(
            {
                "tile_minx": F.col("minx") + lon_step * F.col("tile_x"),
                "tile_miny": F.col("miny") + lat_step * F.col("tile_y"),
            }
        )
        .withColumns(
            {
                # last row/col clamps to the bbox edge (reference appends
                # bbox[2]/bbox[3] as the final cut)
                "tile_maxx": F.least(F.col("minx") + lon_step * (F.col("tile_x") + 1), F.col("maxx")),
                "tile_maxy": F.least(F.col("miny") + lat_step * (F.col("tile_y") + 1), F.col("maxy")),
            }
        )
    )
    return pad_small_tiles(df, resolution_m)


def pad_small_tiles(df: DataFrame, resolution_m: float = 10.0) -> DataFrame:
    """check_and_crop_bbox padding (inference_planner_functions.py:83-108):
    a tile under 244 px in either dim is re-centered and expanded to
    2·(112+50) px in that dim, using the ellipsoid deg/px at tile center."""
    cx = (F.col("tile_minx") + F.col("tile_maxx")) / 2
    cy = (F.col("tile_miny") + F.col("tile_maxy")) / 2
    r_lat = S.resolution_deg_lat(cy, resolution_m)
    r_lon = S.resolution_deg_lon(cy, resolution_m)
    t_w_px = (F.col("tile_maxx") - F.col("tile_minx")) / r_lon
    t_h_px = (F.col("tile_maxy") - F.col("tile_miny")) / r_lat
    # reference triggers the pad pass when either dim < 244, then expands
    # only dims < 224 (the inner `if aoi_size[i][0] < 224` checks)
    trigger = (t_w_px < MIN_TILE_PX) | (t_h_px < MIN_TILE_PX)
    pad_w = trigger & (t_w_px < WINDOW)
    pad_h = trigger & (t_h_px < WINDOW)
    half = F.lit(float(PAD_HALF_PX))
    df = df.withColumns(
        {
            "tile_minx": F.when(pad_w, cx - half * r_lon).otherwise(F.col("tile_minx")),
            "tile_maxx": F.when(pad_w, cx + half * r_lon).otherwise(F.col("tile_maxx")),
            "tile_miny": F.when(pad_h, cy - half * r_lat).otherwise(F.col("tile_miny")),
            "tile_maxy": F.when(pad_h, cy + half * r_lat).otherwise(F.col("tile_maxy")),
        }
    )
    return df.withColumns(
        {
            "tile_w_px": ((F.col("tile_maxx") - F.col("tile_minx")) / r_lon).cast("int"),
            "tile_h_px": ((F.col("tile_maxy") - F.col("tile_miny")) / r_lat).cast("int"),
        }
    )


# ----------------------------------------------- sliding windows (W3)


def window_offsets(dim: int, window: int = WINDOW, stride: int = STRIDE) -> list[int]:
    """Standard tiled-inference offsets: stride steps plus an edge-flushed
    final window; a dim smaller than the window yields the single offset 0."""
    if dim <= window:
        return [0]
    offs = list(range(0, dim - window + 1, stride))
    if offs[-1] != dim - window:
        offs.append(dim - window)
    return offs


def sliding_windows_expr(dim: Column, window: int = WINDOW, stride: int = STRIDE) -> Column:
    """``window_offsets`` as an array-typed column expression."""
    base = F.sequence(
        F.lit(0),
        F.greatest(dim.cast("int") - window, F.lit(0)),
        F.lit(stride),
    )
    last = F.greatest(dim.cast("int") - window, F.lit(0))
    return F.when(
        F.element_at(base, -1) == last, base
    ).otherwise(F.concat(base, F.array(last)))


def with_windows(df: DataFrame, w_col: str = "w", h_col: str = "h") -> DataFrame:
    """Explode each image into its 224/208 inference windows: adds
    win_col_off, win_row_off, win_w, win_h. Pure expressions — at 10^12 rows
    the ~amplification factor is the data, not a bottleneck."""
    df = df.withColumn("win_col_off", F.explode(sliding_windows_expr(F.col(w_col))))
    df = df.withColumn("win_row_off", F.explode(sliding_windows_expr(F.col(h_col))))
    return df.withColumns(
        {
            "win_w": F.least(F.lit(WINDOW), F.col(w_col).cast("int")),
            "win_h": F.least(F.lit(WINDOW), F.col(h_col).cast("int")),
        }
    )


def chip_and_label(
    images: DataFrame,
    labels: DataFrame,
    image_col: str = "bytes",
    label_col: str = "label_bytes",
    id_col: str = "image_id",
) -> DataFrame:
    """W4 ``chip_and_label_data`` (claimed_curated_upload_v2.py:346-352):
    chip each training raster AND its label mask into the fixed 224-px
    window grid, emitting one (chip, label-chip) pair per window. Spark
    shape: equi-join image↔label on id, window explode (pure expressions),
    then ONE mapInPandas cropping both rasters per window — decode happens
    once per (image, window-batch), pixels never leave the Arrow batch."""
    from ..codecs.image import decode_image, encode_image
    from .raster import crop_window

    joined = with_windows(images.join(labels.select(id_col, label_col), id_col))
    id_type = dict(images.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, win_col_off int, win_row_off int, win_w int, win_h int, "
        "chip_bytes binary, chip_label_bytes binary"
    )

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            cache: dict = {}
            for _, row in pdf.iterrows():
                key = row[id_col]
                if key not in cache:
                    cache[key] = (
                        decode_image(bytes(row[image_col])),
                        decode_image(bytes(row[label_col])),
                    )
                img, lab = cache[key]
                c0, r0 = int(row["win_col_off"]), int(row["win_row_off"])
                ww, wh = int(row["win_w"]), int(row["win_h"])
                rows.append(
                    {
                        id_col: key,
                        "win_col_off": c0,
                        "win_row_off": r0,
                        "win_w": ww,
                        "win_h": wh,
                        "chip_bytes": encode_image(crop_window(img, c0, r0, ww, wh), "raw"),
                        "chip_label_bytes": encode_image(crop_window(lab, c0, r0, ww, wh), "raw"),
                    }
                )
            yield pd.DataFrame(rows)

    return joined.mapInPandas(run, out_schema)


# ------------------------------------------------------------- oracles


def window_offsets_oracle(dim: int) -> list[int]:
    return window_offsets(dim)


def tile_bbox_oracle(minx, miny, maxx, maxy, resolution_m: float = 10.0):
    """Single-node numpy twin of ``grid_tiles_expr`` + ``pad_small_tiles``
    for parity tests (same formulas, same clamping)."""
    cy = (miny + maxy) / 2.0
    lat_rad = math.radians(cy)
    lat_len = 111132.954 - 559.822 * math.cos(2 * lat_rad) + 1.175 * math.cos(4 * lat_rad)
    lon_len = (math.pi / 180.0) * math.cos(lat_rad) * 6378137.0
    r_lat = resolution_m / lat_len
    r_lon = resolution_m / lon_len
    px_w = (maxx - minx) / r_lon
    px_h = (maxy - miny) / r_lat
    tiles = []
    if px_w > MAX_TILE_PX or px_h > MAX_TILE_PX:
        num_lon = int(math.floor(px_w / GRID_TILE_PX))
        num_lat = int(math.floor(px_h / GRID_TILE_PX))
        lon_step = (maxx - minx) * (GRID_TILE_PX / px_w)
        lat_step = (maxy - miny) * (GRID_TILE_PX / px_h)
        for x in range(num_lon + 1):
            for y in range(num_lat + 1):
                tiles.append(
                    (
                        x,
                        y,
                        minx + lon_step * x,
                        miny + lat_step * y,
                        min(minx + lon_step * (x + 1), maxx),
                        min(miny + lat_step * (y + 1), maxy),
                    )
                )
    else:
        tiles.append((0, 0, minx, miny, maxx, maxy))
    out = []
    for tx, ty, a, b, c, d in tiles:
        tcx, tcy = (a + c) / 2.0, (b + d) / 2.0
        lat_rad = math.radians(tcy)
        lat_len = 111132.954 - 559.822 * math.cos(2 * lat_rad) + 1.175 * math.cos(4 * lat_rad)
        lon_len = (math.pi / 180.0) * math.cos(lat_rad) * 6378137.0
        rl, rg = resolution_m / lat_len, resolution_m / lon_len
        tw, th = (c - a) / rg, (d - b) / rl
        if tw < MIN_TILE_PX or th < MIN_TILE_PX:
            if tw < WINDOW:
                a, c = tcx - PAD_HALF_PX * rg, tcx + PAD_HALF_PX * rg
            if th < WINDOW:
                b, d = tcy - PAD_HALF_PX * rl, tcy + PAD_HALF_PX * rl
        out.append((tx, ty, a, b, c, d, int((c - a) / rg), int((d - b) / rl)))
    return out
