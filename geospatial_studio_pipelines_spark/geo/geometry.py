"""Planar geometry kernel — pure numpy, vectorized where it matters.

Replaces the shapely calls the reference makes (``gpd.sjoin`` intersects at
``postprocess_generic_helper_functions.py:368``, ``gdf.clip`` at ``:273``,
regularization geometry math in ``postprocess_regularization.py``) with
dependency-free equivalents. These run *inside* Arrow-batched pandas UDFs;
the DataFrame layer never sees per-row Python.

Conventions: rings are (N, 2) float64 arrays of (x, y) = (lon, lat), closed
(first == last). Polygons are ``list[ring]`` with ring 0 the exterior and the
rest holes. Predicates follow shapely's boundary-inclusive ``intersects``.
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------- predicates


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: True for points strictly inside or on the boundary
    of ``ring``. (M points × N edges, evaluated as M×N numpy broadcast.)"""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    # crossing-number test (half-open edge rule avoids double-count at vertices)
    cond = (y0[None, :] <= py) != (y1[None, :] <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (py - y0[None, :]) / (y1[None, :] - y0[None, :]) * (
            x1[None, :] - x0[None, :]
        )
    crossings = np.sum(cond & (px < xint), axis=1)
    inside = (crossings % 2) == 1
    # boundary inclusion: point on any edge segment
    on_edge = _points_on_segments(px, py, x0, y0, x1, y1)
    return inside | on_edge


def _points_on_segments(px, py, x0, y0, x1, y1, eps: float = 1e-12) -> np.ndarray:
    dx, dy = x1 - x0, y1 - y0
    cross = (px - x0[None, :]) * dy[None, :] - (py - y0[None, :]) * dx[None, :]
    dot = (px - x0[None, :]) * dx[None, :] + (py - y0[None, :]) * dy[None, :]
    sq = (dx * dx + dy * dy)[None, :]
    on = (np.abs(cross) <= eps) & (dot >= -eps) & (dot <= sq + eps)
    return np.any(on, axis=1)


def points_in_polygon(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Point-in-polygon with holes (exterior minus interiors)."""
    res = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        # points strictly inside a hole are excluded; hole boundary still counts
        in_hole = points_in_ring(px, py, hole)
        on_hole_edge = _points_on_segments(
            np.asarray(px, dtype=np.float64)[:, None],
            np.asarray(py, dtype=np.float64)[:, None],
            hole[:-1, 0],
            hole[:-1, 1],
            hole[1:, 0],
            hole[1:, 1],
        )
        res &= ~(in_hole & ~on_hole_edge)
    return res


def segments_cross(a0, a1, b0, b1, eps: float = 0.0) -> np.ndarray:
    """True where segment (a0→a1) intersects (b0→b1); inputs (N,2)/(M,2)
    broadcast to N×M via orientation tests (inclusive of touching)."""
    a0 = np.asarray(a0, dtype=np.float64)
    a1 = np.asarray(a1, dtype=np.float64)
    b0 = np.asarray(b0, dtype=np.float64)
    b1 = np.asarray(b1, dtype=np.float64)

    def orient(p, q, r):
        return (q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1]) - (
            q[..., 1] - p[..., 1]
        ) * (r[..., 0] - p[..., 0])

    A0 = a0[:, None, :]
    A1 = a1[:, None, :]
    B0 = b0[None, :, :]
    B1 = b1[None, :, :]
    d1 = orient(A0, A1, B0)
    d2 = orient(A0, A1, B1)
    d3 = orient(B0, B1, A0)
    d4 = orient(B0, B1, A1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    touch = (
        ((d1 == 0) & _between(A0, A1, B0))
        | ((d2 == 0) & _between(A0, A1, B1))
        | ((d3 == 0) & _between(B0, B1, A0))
        | ((d4 == 0) & _between(B0, B1, A1))
    )
    return proper | touch


def _between(p, q, r) -> np.ndarray:
    return (
        (np.minimum(p[..., 0], q[..., 0]) <= r[..., 0])
        & (r[..., 0] <= np.maximum(p[..., 0], q[..., 0]))
        & (np.minimum(p[..., 1], q[..., 1]) <= r[..., 1])
        & (r[..., 1] <= np.maximum(p[..., 1], q[..., 1]))
    )


def rings_intersect(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Boundary-or-interior intersection of two closed rings (exterior only):
    vertex containment either way, or any edge crossing."""
    if points_in_ring(rb[:-1, 0], rb[:-1, 1], ra).any():
        return True
    if points_in_ring(ra[:-1, 0], ra[:-1, 1], rb).any():
        return True
    return bool(segments_cross(ra[:-1], ra[1:], rb[:-1], rb[1:]).any())


def polygon_intersects_bbox(rings: list[np.ndarray], minx, miny, maxx, maxy) -> bool:
    """shapely-style ``intersects`` between a polygon and an axis-aligned box."""
    ext = rings[0]
    # quick reject on envelopes
    if ext[:, 0].max() < minx or ext[:, 0].min() > maxx:
        return False
    if ext[:, 1].max() < miny or ext[:, 1].min() > maxy:
        return False
    box = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]],
        dtype=np.float64,
    )
    if not rings_intersect(ext, box):
        return False
    if len(rings) > 1:
        # box entirely inside one hole (and not touching its boundary) → no hit
        bx = box[:-1, 0]
        by = box[:-1, 1]
        for hole in rings[1:]:
            if points_in_ring(bx, by, hole).all() and not bool(
                segments_cross(hole[:-1], hole[1:], box[:-1], box[1:]).any()
            ):
                return False
    return True


def segments_hit_boxes(ring: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """(N,) bool: does any edge of ``ring`` intersect each axis-aligned box?

    Liang–Barsky slab clip, broadcast (N boxes × M edges) — touching counts
    (boundary-inclusive, matching ``segments_cross``). Replaces the per-pair
    Python loop in the spatial join's exact phase with one numpy pass per
    polygon per Arrow batch."""
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    dx = (ring[1:, 0] - ring[:-1, 0])[None, :]
    dy = (ring[1:, 1] - ring[:-1, 1])[None, :]
    minx, miny = boxes[:, 0][:, None], boxes[:, 1][:, None]
    maxx, maxy = boxes[:, 2][:, None], boxes[:, 3][:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        tx1 = (minx - x0) / dx
        tx2 = (maxx - x0) / dx
        ty1 = (miny - y0) / dy
        ty2 = (maxy - y0) / dy
    # dx == 0: edge is vertical — inside the x-slab iff minx <= x0 <= maxx
    zx = dx == 0
    in_x = (x0 >= minx) & (x0 <= maxx)
    tlo_x = np.where(zx, np.where(in_x, -np.inf, np.inf), np.minimum(tx1, tx2))
    thi_x = np.where(zx, np.where(in_x, np.inf, -np.inf), np.maximum(tx1, tx2))
    zy = dy == 0
    in_y = (y0 >= miny) & (y0 <= maxy)
    tlo_y = np.where(zy, np.where(in_y, -np.inf, np.inf), np.minimum(ty1, ty2))
    thi_y = np.where(zy, np.where(in_y, np.inf, -np.inf), np.maximum(ty1, ty2))
    tmin = np.maximum(np.maximum(tlo_x, tlo_y), 0.0)
    tmax = np.minimum(np.minimum(thi_x, thi_y), 1.0)
    return np.any(tmin <= tmax, axis=1)


def _corners_in_ring(ring: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """(N, 4) bool: each box corner inside-or-on ``ring``."""
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    cx = boxes[:, [0, 2, 2, 0]].ravel()
    cy = boxes[:, [1, 1, 3, 3]].ravel()
    return points_in_ring(cx, cy, ring).reshape(-1, 4)


def polygon_intersects_boxes(rings: list[np.ndarray], boxes: np.ndarray) -> np.ndarray:
    """Vectorized ``polygon_intersects_bbox`` over (N, 4) boxes → (N,) bool.

    Same boundary-inclusive semantics: a box intersects the polygon iff a
    corner lies in the exterior ring or an exterior edge meets the box region,
    minus boxes strictly inside a hole (not touching its boundary)."""
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    if len(boxes) == 0:
        return np.zeros(0, dtype=bool)
    ext = rings[0]
    env = (
        (ext[:, 0].max() >= boxes[:, 0])
        & (ext[:, 0].min() <= boxes[:, 2])
        & (ext[:, 1].max() >= boxes[:, 1])
        & (ext[:, 1].min() <= boxes[:, 3])
    )
    out = np.zeros(len(boxes), dtype=bool)
    if env.any():
        cand = boxes[env]
        hit = _corners_in_ring(ext, cand).any(axis=1) | segments_hit_boxes(ext, cand)
        for hole in rings[1:]:
            if not hit.any():
                break
            strictly_in_hole = _corners_in_ring(hole, cand).all(axis=1) & ~segments_hit_boxes(
                hole, cand
            )
            hit &= ~strictly_in_hole
        out[env] = hit
    return out


# ------------------------------------------------------------- measurements


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: list[np.ndarray]) -> float:
    return abs(ring_area(rings[0])) - sum(abs(ring_area(r)) for r in rings[1:])


def ring_perimeter(ring: np.ndarray) -> float:
    d = np.diff(ring, axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    x, y = ring[:-1, 0], ring[:-1, 1]
    xn, yn = ring[1:, 0], ring[1:, 1]
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-300:
        return float(x.mean()), float(y.mean())
    cx = float(((x + xn) * cross).sum() / (6.0 * a))
    cy = float(((y + yn) * cross).sum() / (6.0 * a))
    return cx, cy


# ------------------------------------------------------------ constructions


def simplify_ring(ring: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas–Peucker (shapely ``simplify`` semantics, closed ring preserved)."""
    pts = ring[:-1]
    if len(pts) <= 3:
        return ring
    keep = _dp_mask(ring, 0, len(ring) - 1, tolerance)
    out = ring[keep]
    if len(out) < 4:  # degenerate — keep original
        return ring
    if not np.array_equal(out[0], out[-1]):
        out = np.vstack([out, out[:1]])
    return out


def _dp_mask(pts: np.ndarray, lo: int, hi: int, tol: float) -> np.ndarray:
    keep = np.zeros(len(pts), dtype=bool)
    keep[lo] = keep[hi] = True
    stack = [(lo, hi)]
    while stack:
        a, b = stack.pop()
        if b <= a + 1:
            continue
        seg = pts[b] - pts[a]
        ln = np.hypot(*seg)
        mid = pts[a + 1 : b]
        if ln == 0:
            d = np.hypot(mid[:, 0] - pts[a][0], mid[:, 1] - pts[a][1])
        else:
            d = np.abs((mid[:, 0] - pts[a][0]) * seg[1] - (mid[:, 1] - pts[a][1]) * seg[0]) / ln
        imax = int(np.argmax(d))
        if d[imax] > tol:
            k = a + 1 + imax
            keep[k] = True
            stack.append((a, k))
            stack.append((k, b))
    return keep


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns closed CCW ring."""
    pts = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return np.vstack([pts, pts[:1]])
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], p - out[-2]) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1])
    return np.vstack([hull, hull[:1]])


def min_rotated_rect(ring: np.ndarray) -> np.ndarray:
    """Minimum-area rotated rectangle via rotating calipers over the hull
    (shapely ``minimum_rotated_rectangle``; used by hybrid regularization,
    postprocess_regularization.py:392-497). Returns closed 5-point ring."""
    hull = convex_hull(ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring)
    hp = hull[:-1]
    if len(hp) <= 2:
        return np.vstack([hp, hp[::-1], hp[:1]])[:5]
    edges = np.diff(hull, axis=0)
    ang = np.arctan2(edges[:, 1], edges[:, 0])
    best = None
    for a in np.unique(np.mod(ang, np.pi / 2)):
        c, s = np.cos(-a), np.sin(-a)
        rx = hp[:, 0] * c - hp[:, 1] * s
        ry = hp[:, 0] * s + hp[:, 1] * c
        area = (rx.max() - rx.min()) * (ry.max() - ry.min())
        if best is None or area < best[0]:
            best = (area, a, rx.min(), rx.max(), ry.min(), ry.max())
    _, a, x0, x1, y0, y1 = best
    corners = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
    c, s = np.cos(a), np.sin(a)
    out = np.empty_like(corners)
    out[:, 0] = corners[:, 0] * c - corners[:, 1] * s
    out[:, 1] = corners[:, 0] * s + corners[:, 1] * c
    return out


def rotate_ring(ring: np.ndarray, angle_deg: float, origin: tuple[float, float]) -> np.ndarray:
    """Rotate around ``origin`` (shapely ``affinity.rotate`` semantics)."""
    a = np.deg2rad(angle_deg)
    c, s = np.cos(a), np.sin(a)
    ox, oy = origin
    x = ring[:, 0] - ox
    y = ring[:, 1] - oy
    return np.column_stack([x * c - y * s + ox, x * s + y * c + oy])


def oriented_envelope_of(ring: np.ndarray) -> np.ndarray:
    """Axis-aligned bbox as a closed ring."""
    minx, miny = ring[:, 0].min(), ring[:, 1].min()
    maxx, maxy = ring[:, 0].max(), ring[:, 1].max()
    return np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]],
        dtype=np.float64,
    )


def segment_angles_lengths(ring: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-edge angle (degrees, mod 180) and length — inputs to the
    length-weighted angle histogram of postprocess_regularization.py:211-227."""
    d = np.diff(ring, axis=0)
    ang = np.mod(np.rad2deg(np.arctan2(d[:, 1], d[:, 0])), 180.0)
    ln = np.hypot(d[:, 0], d[:, 1])
    return ang, ln


def buffer_ring(ring: np.ndarray, dist: float, quad_segs: int = 8) -> np.ndarray:
    """Positive buffer of a ring, approximated as the convex hull of per-vertex
    circles (exact for convex inputs; a documented approximation for concave —
    the reference's buffer use is metric dilation of mask polygons,
    postprocess_generic_helper_functions.py:276-278)."""
    if dist <= 0:
        return ring
    ang = np.linspace(0, 2 * np.pi, 4 * quad_segs, endpoint=False)
    circle = np.column_stack([np.cos(ang), np.sin(ang)]) * dist
    cloud = (ring[:-1, None, :] + circle[None, :, :]).reshape(-1, 2)
    return convex_hull(cloud)
