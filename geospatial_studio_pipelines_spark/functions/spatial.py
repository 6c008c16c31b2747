"""Spatial scalar functions as **pure Catalyst column expressions**.

Everything here compiles to JVM whole-stage-codegen — no Python is executed
per row. This is the engine's hot path: footprint derivation and cell-ID
assignment run over every image in the (design-scale 10^12-row) table, so
they must never drop into Python. The numpy twins in ``index/hexgrid.py``
exist for UDF-side use (kNN heaps, tiling) and as the single-node oracle;
tests assert expression/numpy agreement bit-for-bit.

Reference semantics reproduced:
* ``resolution_deg_*`` — ellipsoid-corrected metres→degrees conversion,
  ``inference_planner_functions.py:22-33`` (same constants: 111132.954,
  559.822, 1.175, 6378137).
* footprint derivation from row metadata — the analog of deriving bbox from
  raster metadata (``raster_data_operations.py:34-45``) and date from
  filename regex (``user_store_download_operations.py:92-97``); formulas per
  FIXTURES.md so the single-node oracle is exact integer/float arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..index.hexgrid import _BASE_SIZE, _OFF

_SQRT3 = math.sqrt(3.0)
_SQRT7 = math.sqrt(7.0)


# --------------------------------------------------- footprint derivation


def center_lon(phash: Column) -> Column:
    """lon = -180 + (phash % 360000)/1000 (FIXTURES.md derived column)."""
    return (F.pmod(phash, F.lit(360_000)) / F.lit(1000.0) + F.lit(-180.0)).alias("lon")


def center_lat(phash: Column) -> Column:
    """lat = -60 + ((phash // 360000) % 120000)/1000, in integer arithmetic
    (a double cannot hold a phash above 2^53 exactly)."""
    return (
        F.pmod(F.call_function("div", phash, F.lit(360_000)), F.lit(120_000)) / F.lit(1000.0)
        + F.lit(-60.0)
    ).alias("lat")


def resolution_deg_lat(lat: Column, meter_resolution: Column | float) -> Column:
    """Degrees of latitude per ``meter_resolution`` metres at ``lat``
    (ellipsoid-corrected, inference_planner_functions.py:22-33)."""
    lat_rad = F.radians(lat)
    lat_degree_length = (
        F.lit(111132.954)
        - F.lit(559.822) * F.cos(F.lit(2.0) * lat_rad)
        + F.lit(1.175) * F.cos(F.lit(4.0) * lat_rad)
    )
    return F.lit(meter_resolution) / lat_degree_length if not isinstance(meter_resolution, Column) else meter_resolution / lat_degree_length


def resolution_deg_lon(lat: Column, meter_resolution: Column | float) -> Column:
    """Degrees of longitude per metre-resolution at ``lat``."""
    lat_rad = F.radians(lat)
    lon_degree_length = F.lit(math.pi / 180.0) * F.cos(lat_rad) * F.lit(6378137.0)
    return F.lit(meter_resolution) / lon_degree_length if not isinstance(meter_resolution, Column) else meter_resolution / lon_degree_length


def footprint_bbox(lat: Column, lon: Column, w: Column, h: Column, m_per_px: float = 10.0) -> list[Column]:
    """Image footprint bbox columns: center ± (w, h) × 10 m/px in degrees.

    Returns [minx, miny, maxx, maxy] columns (flat doubles, not a struct, so
    parquet min/max stats prune on them — SURVEY.md §4 row 1).
    """
    half_w_deg = (w.cast("double") / 2.0) * resolution_deg_lon(lat, float(m_per_px))
    half_h_deg = (h.cast("double") / 2.0) * resolution_deg_lat(lat, float(m_per_px))
    return [
        (lon - half_w_deg).alias("minx"),
        (lat - half_h_deg).alias("miny"),
        (lon + half_w_deg).alias("maxx"),
        (lat + half_h_deg).alias("maxy"),
    ]


def acquisition_date(phash: Column) -> Column:
    """date '2024-01-01' + (phash % 365) days (FIXTURES.md)."""
    return F.date_add(F.lit("2024-01-01").cast("date"), F.pmod(phash, F.lit(365)).cast("int")).alias(
        "date"
    )


def modality(i: Column) -> Column:
    """S2L2A on even ordinals, S1GRD on odd (drives as-of join tests)."""
    return F.when(F.pmod(i, F.lit(2)) == 0, F.lit("S2L2A")).otherwise(F.lit("S1GRD")).alias("modality")


# ------------------------------------------------------- hex cell encoding


def hex_cell_size(res: int) -> float:
    return _BASE_SIZE / (_SQRT7**res)


def hex_cell(lat: Column, lon: Column, res: int) -> Column:
    """Hex cell id at ``res`` as a pure column expression.

    Exactly mirrors ``index.hexgrid.latlng_to_cell`` (same floor(x+0.5)
    rounding, same bit packing) — Catalyst evaluates this inside
    whole-stage codegen, so cell assignment over 10^12 rows never leaves
    the JVM.
    """
    size = F.lit(hex_cell_size(res))
    qf = (F.lit(_SQRT3 / 3.0) * lon - lat / F.lit(3.0)) / size
    rf = (F.lit(2.0 / 3.0) * lat) / size
    q, r = _axial_round_expr(qf, rf)
    return (
        (F.lit(res).cast("long") * F.lit(1 << 58).cast("long"))
        + (q + F.lit(_OFF)) * F.lit(1 << 29).cast("long")
        + (r + F.lit(_OFF))
    ).alias(f"cell_{res}")


def _axial_round_expr(qf: Column, rf: Column) -> tuple[Column, Column]:
    sf = -qf - rf
    q = F.floor(qf + F.lit(0.5))
    r = F.floor(rf + F.lit(0.5))
    s = F.floor(sf + F.lit(0.5))
    dq = F.abs(q.cast("double") - qf)
    dr = F.abs(r.cast("double") - rf)
    ds = F.abs(s.cast("double") - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q2 = F.when(fix_q, -r - s).otherwise(q)
    r2 = F.when(fix_r, -q2 - s).otherwise(r)
    return q2.cast("long"), r2.cast("long")


def hex_cell_sql(lat_sql: str, lon_sql: str, res: int) -> str:
    """The same hex-cell encoding as an ANSI-SQL string (DuckDB-compatible) —
    used by the driver's oracle so Spark and DuckDB compute identical ids."""
    size = hex_cell_size(res)
    qf = f"(({_SQRT3 / 3.0!r} * ({lon_sql}) - ({lat_sql}) / 3.0) / {size!r})"
    rf = f"((2.0 / 3.0) * ({lat_sql}) / {size!r})"
    sf = f"(-{qf} - {rf})"
    q = f"floor({qf} + 0.5)"
    r = f"floor({rf} + 0.5)"
    s = f"floor({sf} + 0.5)"
    dq = f"abs({q} - {qf})"
    dr = f"abs({r} - {rf})"
    ds = f"abs({s} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    fix_r = f"(NOT {fix_q} AND {dr} > {ds})"
    q2 = f"(CASE WHEN {fix_q} THEN -{r} - {s} ELSE {q} END)"
    r2 = f"(CASE WHEN {fix_r} THEN -{q2} - {s} ELSE {r} END)"
    return (
        f"(CAST({res} AS BIGINT) * {1 << 58} "
        f"+ (CAST({q2} AS BIGINT) + {_OFF}) * {1 << 29} "
        f"+ (CAST({r2} AS BIGINT) + {_OFF}))"
    )


def salt(key: Column, n_salts: int) -> Column:
    """Deterministic salt bucket for skew mitigation: ``pmod(hash(key), n)``.

    Used to split hot cells (a giant AOI's cell set) across ``n_salts``
    reducers; the small side is replicated per salt (SURVEY.md §4 skew row).
    """
    return F.pmod(F.hash(key), F.lit(n_salts)).alias("salt")
