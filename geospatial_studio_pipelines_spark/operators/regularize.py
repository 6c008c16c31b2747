"""Polygon regularization — adaptive / orthogonal / hybrid (SURVEY §2.8
F17–F19), reproducing ``postprocess_regularization.py:170-497`` control flow
with the numpy geometry kernel instead of shapely.

All three take a ring (closed (N,2), pixel or world coords) and return a
regularized ring. The Spark stage maps them over a WKB geometry column.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..geo import geometry as G
from ..geo import wkb
from .raster import map_images

TECHNIQUES = ("adaptive_regularization", "regularization", "hybrid_regularization")


def _complexity(ring: np.ndarray) -> float:
    """L / (4·√A) — 1.0 for a square (postprocess_regularization.py:210)."""
    a = abs(G.ring_area(ring))
    if a <= 0:
        return float("inf")
    return G.ring_perimeter(ring) / (4.0 * np.sqrt(a))


def _angle_hist(ring: np.ndarray, bins: int):
    ang, ln = G.segment_angles_lengths(ring)
    hist, edges = np.histogram(ang, bins=bins, range=(0, 180), weights=ln)
    centers = (edges[:-1] + edges[1:]) / 2
    return hist, centers


def _axis_rect(ring: np.ndarray, angle: float) -> np.ndarray:
    """Rotate by −angle around centroid, take bbox, rotate back (the shared
    rotate→bounds→rotate-back move of all three reference strategies)."""
    c = G.ring_centroid(ring)
    rot = G.rotate_ring(ring, -angle, c)
    rect = G.oriented_envelope_of(rot)
    return G.rotate_ring(rect, angle, c)


def adaptive_regularization(ring: np.ndarray, simplify_tolerance: float = 0.5, area_threshold: float = 0.9) -> np.ndarray:
    """:170-267 — simple building (complexity < 1.2) with clear direction
    (dominant 18-bin length share > 0.5) → rotated bbox, reverted to the
    simplified original if the area ratio leaves [0.9, 1/0.9]; otherwise
    simplify."""
    complexity = _complexity(ring)
    hist, centers = _angle_hist(ring, 18)
    total = hist.sum()
    clarity = hist.max() / total if total > 0 else 0.0
    if complexity < 1.2 and clarity > 0.5:
        dominant = float(centers[int(np.argmax(hist))])
        result = _axis_rect(ring, dominant)
        ratio = abs(G.ring_area(result)) / max(abs(G.ring_area(ring)), 1e-300)
        if ratio < area_threshold or ratio > 1.0 / area_threshold:
            result = G.simplify_ring(ring, simplify_tolerance)
        return result
    return G.simplify_ring(ring, simplify_tolerance)


def regularization(ring: np.ndarray, angle_tolerance: float = 10.0, simplify_tolerance: float = 0.5) -> np.ndarray:
    """:270-389 (orthogonal) — simplify; dominant 90°-binned angle; rotate;
    insert a right-angle vertex wherever a segment's angle is more than
    ``angle_tolerance`` off-axis; rotate back."""
    simplified = G.simplify_ring(ring, simplify_tolerance)
    seg = np.diff(simplified, axis=0)
    ang = np.rad2deg(np.arctan2(seg[:, 1], seg[:, 0]))
    binned = (np.round(ang / 90.0) * 90.0).astype(np.int64) % 180
    dominant = float(np.bincount(binned, minlength=180).argmax())
    c = G.ring_centroid(simplified)
    rot = G.rotate_ring(simplified, -dominant, c)
    pts = rot
    out = []
    n = len(pts) - 1
    for i in range(n):
        out.append(pts[i])
        nxt = pts[(i + 1) % n]
        a = np.rad2deg(np.arctan2(nxt[1] - pts[i][1], nxt[0] - pts[i][0]))
        if abs(a % 90.0) > angle_tolerance and abs(a % 90.0) < (90.0 - angle_tolerance):
            out.append(np.array([nxt[0], pts[i][1]]))  # right-angle intermediate
    out.append(out[0])
    reg = np.asarray(out, dtype=np.float64)
    return G.rotate_ring(reg, dominant, c)


def hybrid_regularization(ring: np.ndarray) -> np.ndarray:
    """:392-497 — complexity > 1.5 → minimum rotated rectangle; dominant
    angle (36-bin, length-weighted) near a 45° multiple (within 5°) →
    axis-aligned hull in rotated space; otherwise rotate, simplify(0.3),
    bbox, rotate back."""
    complexity = _complexity(ring)
    hist, centers = _angle_hist(ring, 36)
    dominant = float(centers[int(np.argmax(hist))])
    if complexity > 1.5:
        return G.min_rotated_rect(ring)
    if min(dominant % 45.0, 45.0 - (dominant % 45.0)) < 5.0:
        return _axis_rect(ring, dominant)
    c = G.ring_centroid(ring)
    rot = G.rotate_ring(ring, -dominant, c)
    simp = G.simplify_ring(rot, 0.3)
    rect = G.oriented_envelope_of(simp)
    return G.rotate_ring(rect, dominant, c)


_FNS = {
    "adaptive_regularization": adaptive_regularization,
    "regularization": regularization,
    "hybrid_regularization": hybrid_regularization,
}


def regularize(df: DataFrame, technique: str = "adaptive_regularization", geom_col: str = "geom_wkb") -> DataFrame:
    """Spark stage: regularize each polygon row (exterior ring only — the
    reference's strategies likewise operate on ``exterior.coords``). Invalid/
    empty geometries pass through unchanged (:202-205 guard)."""
    reg = _FNS[technique]

    def fn(row):
        blob = row[geom_col]
        try:
            out = wkb.dumps_polygon([reg(wkb.polygon_rings(blob)[0])])
        except (ValueError, IndexError):
            out = blob  # pass through invalid geometry
        yield {"reg_wkb": out}

    return map_images(df, fn, [], "reg_wkb binary")
