"""Inference-request planner — the logical-plan builder (SURVEY.md §3.1).

The reference's ``inference_planner.py:62-267`` turns a request config into
DB task rows: parse spatial_domain (bbox | polygons→bbox | urls | tiles) ×
temporal_domain, grid-tile oversized bboxes, pad small ones, as-of match
secondary modalities, insert tasks. Here the same request becomes a
**DataFrame program**: request → one inline row per bbox → tiles
(sequence/explode grid) → one row per tile and date (a second inline) →
as-of join → ``tile_assignments`` rows. No queue table — at scale the rows
*are* the units of parallelism, partitioned by cell id.

Request dict shape (mirrors inference_config_template.json:2-338):
    {"inference_id": str,
     "spatial_domain": {"bbox": [[minx,miny,maxx,maxy], ...] and/or
                        "polygons": [wkb bytes, ...]},
     "temporal_domain": ["YYYY-MM-DD" | "YYYY-MM-DD_YYYY-MM-DD", ...],
     "resolution_m": float (default 10),
     "polygon_buffer_deg": float (default 0.0)}
"""

from __future__ import annotations

import re
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spatial import hex_cell
from ..geo import wkb
from ..operators import tiling

DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")  # inference_planner.py:93
RANGE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}_\d{4}-\d{2}-\d{2}$")


def parse_spatial_domain(request: dict) -> list[tuple[float, float, float, float]]:
    """bbox list + polygon envelopes (± buffer) — polygon_to_bbox semantics
    (inference_planner_functions.py:36-43)."""
    sd = request.get("spatial_domain", {})
    out = [tuple(b) for b in sd.get("bbox", [])]
    buf = float(request.get("polygon_buffer_deg", 0.0))
    for blob in sd.get("polygons", []):
        minx, miny, maxx, maxy = wkb.envelope(blob)
        out.append((minx - buf, miny - buf, maxx + buf, maxy + buf))
    if not out:
        raise ValueError("spatial_domain must provide bbox or polygons")
    return out


def parse_temporal_domain(request: dict) -> list[tuple[str, str]]:
    """date / date-range strings → (start, end) pairs, format-validated
    (the ^\\d{4}-\\d{2}-\\d{2}$ check of inference_planner.py:93-96)."""
    out = []
    for d in request.get("temporal_domain", []):
        if DATE_RE.match(d):
            out.append((d, d))
        elif RANGE_RE.match(d):
            a, b = d.split("_")
            out.append((a, b))
        else:
            raise ValueError(f"bad date string {d!r}")
    if not out:
        raise ValueError("temporal_domain is empty")
    return out


def plan_tiles(spark: SparkSession, request: dict, cell_res: int = 7) -> DataFrame:
    """Request → tile_assignments DataFrame.

    Output: (inference_id, aoi_idx, tile_x, tile_y, tile bbox, tile px dims,
    date_start, date_end, cell_id, task_id). The request's bboxes and dates
    enter the plan as literal arrays expanded with ``inline``, so the plan
    is one codegen stage with no join and no driver-side relation. Tile
    generation is the sequence/explode grid of operators.tiling (W1/W2
    semantics); task ids are deterministic (built from the natural key —
    replaces the reference's task_{i} minting at inference_planner.py:99)."""
    bboxes = parse_spatial_domain(request)
    dates = [tuple(map(date.fromisoformat, d)) for d in parse_temporal_domain(request)]
    res_m = float(request.get("resolution_m", 10.0))

    aois = _literal_rows(
        ("aoi_idx", "minx", "miny", "maxx", "maxy"), [(i, *map(float, b)) for i, b in enumerate(bboxes)]
    )
    tiles = tiling.grid_tiles_expr(spark.range(1).select(F.inline(aois)), res_m)
    # every tile once per date: the planner's tiles × temporal fan-out (:173-176)
    out = tiles.select("*", F.inline(_literal_rows(("date_start", "date_end"), dates)))
    job = F.lit(request.get("inference_id", "job"))
    cx = (F.col("tile_minx") + F.col("tile_maxx")) / 2
    cy = (F.col("tile_miny") + F.col("tile_maxy")) / 2
    return out.select(
        job.alias("inference_id"),
        F.format_string(
            "%s-t%d-%d_%d-%s", job, "aoi_idx", "tile_x", "tile_y", F.date_format("date_start", "yyyyMMdd")
        ).alias("task_id"),
        "aoi_idx", "tile_x", "tile_y", "tile_minx", "tile_miny", "tile_maxx", "tile_maxy",
        "tile_w_px", "tile_h_px", "date_start", "date_end",
        hex_cell(cy, cx, cell_res).alias("cell_id"),
    )


def _literal_rows(names: tuple[str, ...], rows: list[tuple]):
    """Driver-side rows as one array-of-structs literal, for ``F.inline``."""
    return F.array(*[F.struct(*[F.lit(v).alias(n) for n, v in zip(names, row)]) for row in rows])


def plan_oracle(request: dict) -> list[dict]:
    """Single-node twin of plan_tiles for parity tests."""
    out = []
    res_m = float(request.get("resolution_m", 10.0))
    for i, (a, b, c, d) in enumerate(parse_spatial_domain(request)):
        for tx, ty, ta, tb, tc, td, tw, th in tiling.tile_bbox_oracle(a, b, c, d, res_m):
            for ds, de in parse_temporal_domain(request):
                out.append(
                    {
                        "aoi_idx": i,
                        "tile_x": tx,
                        "tile_y": ty,
                        "bbox": (ta, tb, tc, td),
                        "px": (tw, th),
                        "date_start": ds,
                        "date_end": de,
                    }
                )
    return out
