"""Raster↔vector conversion (SURVEY.md §2.8 F15/F16) — pure numpy, no GDAL.

* ``raster_to_polygons`` reproduces ``rasterio.features.shapes`` semantics
  (used by ``raster_to_vector``, postprocess_regularization.py:42-167):
  4-connected components of the mask, each traced into an **exact pixel-edge
  polygon** (exterior ring CCW, holes CW), optional min-area filter,
  Douglas–Peucker simplification, class filtering.
* ``rasterize_polygons`` reproduces ``rasterio.features.rasterize``
  (geojson_to_tiff, postprocess_generic_helper_functions.py:485-527):
  burn values onto a grid; ``all_touched=False`` = pixel-center-in-polygon
  (exact); ``all_touched=True`` approximated by center + 4 corner samples
  (exact for the rectilinear polygons this engine's vectorizer emits).

Coordinates: pixel space (x=col, y=row), y increasing downward; an affine
transform (a,b,c,d,e,f) maps to world space like rasterio's Affine.

Spark wrapper: ``vectorize(df)`` is a ``raster.map_images`` stage emitting
one row per polygon (image_id, class value, WKB, area) — a raster-in/
vector-out flatMap, the engine's F15.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..geo import geometry as G
from ..geo import wkb
from .raster import map_images


def connected_components(mask: np.ndarray) -> np.ndarray:
    """4-connected labeling (int64 labels, 0 = bg) via run-based union-find.

    Two passes, both O(pixels): horizontal runs are identified with one
    vectorized cumsum (every masked pixel gets its run id), vertical
    adjacencies between runs become union-find merges (deduplicated, so the
    Python loop is O(#distinct run adjacencies), not O(pixels)). The
    previous min-label propagation rescanned the full plane once per
    component-diameter step — a snaking region on a 2400² tile ran thousands
    of full-array passes (worst case O(area × diameter)); this is the
    classic two-pass CCL bound instead. Label values are arbitrary positive
    ids (only the partition matters to callers)."""
    h, w = mask.shape
    m = mask.astype(bool, copy=False)
    left = np.zeros_like(m)
    left[:, 1:] = m[:, :-1]
    starts = m & ~left
    # run id at each masked pixel = #run-starts at or before it (row-major)
    run_of_pixel = np.where(m, np.cumsum(starts.ravel()).reshape(h, w), 0)
    n_runs = int(run_of_pixel.max()) if m.any() else 0
    if n_runs == 0:
        return np.zeros((h, w), dtype=np.int64)
    parent = np.arange(n_runs + 1, dtype=np.int64)
    vert = m[1:] & m[:-1]
    pairs = np.unique(
        np.stack([run_of_pixel[1:][vert], run_of_pixel[:-1][vert]], axis=1), axis=0
    )

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = int(parent[x])
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # collapse parent pointers to roots (vectorized pointer jumping)
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    return parent[run_of_pixel]


def trace_component(comp_mask: np.ndarray) -> list[np.ndarray]:
    """Exact pixel-edge rings of a single component: collects boundary edges
    oriented with the interior on the left, then chains them into closed
    loops. Returns [exterior (CCW in y-down = CW visually), holes...].
    Collinear runs are merged so rectangles come back as 5-point rings."""
    h, w = comp_mask.shape
    pad = np.pad(comp_mask, 1)
    edges: dict[tuple[int, int], tuple[int, int]] = {}
    ys, xs = np.nonzero(comp_mask)
    for y, x in zip(ys.tolist(), xs.tolist()):
        if not pad[y, x + 1]:  # open above → edge runs +x along top
            edges[(x, y)] = (x + 1, y)
        if not pad[y + 2, x + 1]:  # open below → edge runs -x along bottom
            edges[(x + 1, y + 1)] = (x, y + 1)
        if not pad[y + 1, x]:  # open left → edge runs -y... (y-down: downward)
            edges[(x, y + 1)] = (x, y)
        if not pad[y + 1, x + 2]:  # open right
            edges[(x + 1, y)] = (x + 1, y + 1)
    rings = []
    while edges:
        start = next(iter(edges))
        loop = [start]
        cur = edges.pop(start)
        while cur != start:
            loop.append(cur)
            cur = edges.pop(cur)
        loop.append(start)
        ring = np.asarray(loop, dtype=np.float64)
        # merge collinear runs
        keep = [0]
        for i in range(1, len(ring) - 1):
            d0 = ring[i] - ring[keep[-1]]
            d1 = ring[i + 1] - ring[i]
            if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                keep.append(i)
        keep.append(len(ring) - 1)
        rings.append(ring[keep])
    # exterior = ring with max |area|
    rings.sort(key=lambda r: -abs(G.ring_area(r)))
    return rings


def raster_to_polygons(
    data: np.ndarray,
    threshold: float = 0.0,
    min_area: float = 10.0,
    simplify_tolerance: float | None = None,
    class_values: list[int] | None = None,
) -> list[dict]:
    """raster_to_vector twin (postprocess_regularization.py:42-167): masks by
    class value (or > threshold), labels components, traces polygons, drops
    area < min_area, optionally simplifies. Returns
    [{class, rings, area}, ...] in pixel coordinates."""
    plane = data[:, :, 0] if data.ndim == 3 else data
    if class_values is not None:
        masks = {int(v): plane == v for v in class_values}
    else:
        masks = {1: plane > threshold}
    out = []
    for cls, mask in masks.items():
        labels = connected_components(mask)
        for lab in np.unique(labels):
            if lab == 0:
                continue
            rings = trace_component(labels == lab)
            area = abs(G.ring_area(rings[0])) - sum(abs(G.ring_area(r)) for r in rings[1:])
            if area < min_area:
                continue
            if simplify_tolerance is not None:
                rings = [G.simplify_ring(r, simplify_tolerance) for r in rings]
            out.append({"class": cls, "rings": rings, "area": float(area)})
    return out


def rasterize_polygons(
    shapes: list[tuple[list[np.ndarray], float]],
    out_shape: tuple[int, int],
    fill: float = 0.0,
    all_touched: bool = True,
) -> np.ndarray:
    """rasterize twin (geojson_to_tiff :485-527): burn (rings, value) pairs
    onto an (h, w) grid, later shapes overwrite earlier (rasterio default)."""
    h, w = out_shape
    out = np.full((h, w), fill, dtype=np.float32)
    yy, xx = np.mgrid[0:h, 0:w]
    cx = (xx + 0.5).ravel().astype(np.float64)
    cy = (yy + 0.5).ravel().astype(np.float64)
    for rings, value in shapes:
        minx, miny = rings[0][:, 0].min(), rings[0][:, 1].min()
        maxx, maxy = rings[0][:, 0].max(), rings[0][:, 1].max()
        sel = (cx >= minx - 1) & (cx <= maxx + 1) & (cy >= miny - 1) & (cy <= maxy + 1)
        if not sel.any():
            continue
        hit = G.points_in_polygon(cx[sel], cy[sel], rings)
        if all_touched:
            for dx, dy in ((-0.5, -0.5), (0.5, -0.5), (-0.5, 0.5), (0.5, 0.5)):
                hit |= G.points_in_polygon(cx[sel] + dx, cy[sel] + dy, rings)
        m = np.zeros(h * w, dtype=bool)
        m[np.nonzero(sel)[0][hit]] = True
        out[m.reshape(h, w)] = value
    return out


def vectorize(
    df: DataFrame,
    in_col: str = "masked_bytes",
    threshold: float = 0.0,
    min_area: float = 10.0,
    simplify_tolerance: float | None = None,
    class_values: list[int] | None = None,
) -> DataFrame:
    """F15 as a Spark stage: one output row per extracted polygon."""

    def fn(row):
        feats = raster_to_polygons(row[in_col], threshold, min_area, simplify_tolerance, class_values)
        for k, feat in enumerate(feats):
            yield {
                "shape_idx": k,
                "class": feat["class"],
                "geom_wkb": wkb.dumps_polygon(feat["rings"]),
                "area_px": feat["area"],
            }

    return map_images(
        df, fn, [in_col], "shape_idx int, class int, geom_wkb binary, area_px double", keep=["image_id"]
    )
