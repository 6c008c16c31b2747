"""CRS transforms + inverse-mapping grid warp (SURVEY.md §2.8 F7).

The reference shells out to ``gdalwarp -t_srs EPSG:4326`` whenever an input
raster's CRS differs (``raster_data_operations.py:363-431``,
``check_projection`` ``:16-31``) and matches rasters to a target grid with
``match_raster_to_target`` (``:434-462``). The Spark engine keeps pixels
inside Arrow batches, so the warp is a numpy kernel: destination pixel
centers are inverse-projected into the source grid and sampled
(nearest/bilinear), NODATA outside — the same inverse-mapping algorithm
gdalwarp implements.

Supported CRS: ``EPSG:4326`` (lon/lat degrees, equirectangular pixel grids),
``EPSG:3857`` (spherical web-mercator meters — the reference's mask buffers
go through it, ``postprocess_generic_helper_functions.py:273-277``), and the
UTM zones ``EPSG:326xx`` (north) / ``EPSG:327xx`` (south) — real satellite
scenes (HLS, Sentinel-2) are delivered in UTM, and the reference's
``gdalwarp -t_srs`` path accepts any source CRS
(``raster_data_operations.py:363-431``, ``check_projection:16-31``).
Mercator formulas are the standard published spherical equations
(R = 6378137 m); UTM is the WGS84 transverse-mercator via the published
4th-order Krüger series (Karney 2011, "Transverse Mercator with an accuracy
of a few nanometers") — sub-millimeter within a zone's extent.
Any CRS pair composes through lon/lat.
"""

from __future__ import annotations

import numpy as np

from ..codecs.image import NODATA

R_MERC = 6378137.0  # EPSG:3857 sphere radius (meters)


def lonlat_to_webmerc(lon, lat):
    """EPSG:4326 → EPSG:3857. Latitude clamped to the mercator domain."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.051128779806589, 85.051128779806589)
    x = np.deg2rad(lon) * R_MERC
    y = np.log(np.tan(np.pi / 4.0 + np.deg2rad(lat) / 2.0)) * R_MERC
    return x, y


def webmerc_to_lonlat(x, y):
    """EPSG:3857 → EPSG:4326."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.rad2deg(x / R_MERC)
    lat = np.rad2deg(2.0 * np.arctan(np.exp(y / R_MERC)) - np.pi / 2.0)
    return lon, lat


# ------------------------- UTM: WGS84 transverse mercator (Krüger series)

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_N3 = _WGS84_F / (2.0 - _WGS84_F)  # third flattening n
# rectifying-sphere radius A and the published 4th-order series coefficients
_TM_A = _WGS84_A / (1 + _N3) * (1 + _N3**2 / 4 + _N3**4 / 64)
_ALPHA = (
    _N3 / 2 - 2 * _N3**2 / 3 + 5 * _N3**3 / 16 + 41 * _N3**4 / 180,
    13 * _N3**2 / 48 - 3 * _N3**3 / 5 + 557 * _N3**4 / 1440,
    61 * _N3**3 / 240 - 103 * _N3**4 / 140,
    49561 * _N3**4 / 161280,
)
_BETA = (
    _N3 / 2 - 2 * _N3**2 / 3 + 37 * _N3**3 / 96 - _N3**4 / 360,
    _N3**2 / 48 + _N3**3 / 15 - 437 * _N3**4 / 1440,
    17 * _N3**3 / 480 - 37 * _N3**4 / 840,
    4397 * _N3**4 / 161280,
)
_DELTA = (
    2 * _N3 - 2 * _N3**2 / 3 - 2 * _N3**3 + 116 * _N3**4 / 45,
    7 * _N3**2 / 3 - 8 * _N3**3 / 5 - 227 * _N3**4 / 45,
    56 * _N3**3 / 15 - 136 * _N3**4 / 35,
    4279 * _N3**4 / 315,
)
_K0_UTM = 0.9996
_UTM_FE = 500000.0
_UTM_FN_SOUTH = 10000000.0
# float() so {_E2SN!r} interpolations emit a plain double literal (NumPy 2.x
# repr of np.float64 is 'np.float64(…)' — syntactically invalid SQL)
_E2SN = float(2.0 * np.sqrt(_N3) / (1.0 + _N3))


def _utm_zone(norm: str) -> tuple[float, float]:
    """(central meridian degrees, false northing) for EPSG:326xx/327xx."""
    code = int(norm.split(":")[1])
    zone = code % 100
    lon0 = zone * 6.0 - 183.0
    fn = _UTM_FN_SOUTH if code // 100 == 327 else 0.0
    return lon0, fn


def lonlat_to_utm(lon, lat, utm_crs: str):
    """EPSG:4326 → UTM zone (forward Krüger series)."""
    lon0, fn = _utm_zone(utm_crs)
    lam = np.deg2rad(np.asarray(lon, np.float64) - lon0)
    phi = np.deg2rad(np.asarray(lat, np.float64))
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - _E2SN * np.arctanh(_E2SN * sphi))
    xi0 = np.arctan2(t, np.cos(lam))
    eta0 = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi, eta = xi0.copy(), eta0.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi = xi + a * np.sin(2 * j * xi0) * np.cosh(2 * j * eta0)
        eta = eta + a * np.cos(2 * j * xi0) * np.sinh(2 * j * eta0)
    x = _UTM_FE + _K0_UTM * _TM_A * eta
    y = fn + _K0_UTM * _TM_A * xi
    return x, y


def utm_to_lonlat(x, y, utm_crs: str):
    """UTM zone → EPSG:4326 (inverse Krüger series + Newton on latitude)."""
    lon0, fn = _utm_zone(utm_crs)
    eta = (np.asarray(x, np.float64) - _UTM_FE) / (_K0_UTM * _TM_A)
    xi = (np.asarray(y, np.float64) - fn) / (_K0_UTM * _TM_A)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p = xi_p - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.clip(np.sin(xi_p) / np.cosh(eta_p), -1.0, 1.0))
    phi = chi
    for j, d in enumerate(_DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.rad2deg(lam) + lon0, np.rad2deg(phi)


_CRS_ALIASES = {
    "EPSG:4326": "EPSG:4326",
    "4326": "EPSG:4326",
    "WGS84": "EPSG:4326",
    "EPSG:3857": "EPSG:3857",
    "3857": "EPSG:3857",
}


def _norm_crs(crs: str) -> str:
    key = str(crs).upper().strip()
    try:
        return _CRS_ALIASES[key]
    except KeyError:
        pass
    code = key.removeprefix("EPSG:")
    if code.isdigit() and len(code) == 5 and code[:3] in ("326", "327") and 1 <= int(code[3:]) <= 60:
        return f"EPSG:{code}"
    raise ValueError(
        f"unsupported CRS {crs!r} (supported: EPSG:4326, EPSG:3857, UTM EPSG:326xx/327xx)"
    )


def _to_lonlat(norm: str, x, y):
    if norm == "EPSG:4326":
        return np.asarray(x, np.float64), np.asarray(y, np.float64)
    if norm == "EPSG:3857":
        return webmerc_to_lonlat(x, y)
    return utm_to_lonlat(x, y, norm)


def _from_lonlat(norm: str, lon, lat):
    if norm == "EPSG:4326":
        return np.asarray(lon, np.float64), np.asarray(lat, np.float64)
    if norm == "EPSG:3857":
        return lonlat_to_webmerc(lon, lat)
    return lonlat_to_utm(lon, lat, norm)


def utm_oracle_kernel(lon, lat, lon0: float, fn: float):
    """Krüger forward with hyperbolics COMPOSED from exp/log in the exact
    order ``utm_sql`` emits them — numpy and DuckDB then call the same
    system libm primitives in the same order, making the oracle comparison
    bit-stable (the ``grid_tiles`` trig-twin trick). Semantically identical
    to ``lonlat_to_utm`` (pytest-asserted ≤ 1e-8 m); that production path
    keeps np.sinh/np.arctanh, which are faster but not twin-reproducible."""
    D2R = float(np.pi) / 180.0  # explicit constant-multiply (radians() twin)
    lam = (np.asarray(lon, np.float64) - lon0) * D2R
    phi = np.asarray(lat, np.float64) * D2R
    s = np.sin(phi)
    atanh_s = 0.5 * np.log((1.0 + s) / (1.0 - s))
    es = _E2SN * s
    atanh_es = 0.5 * np.log((1.0 + es) / (1.0 - es))
    u = atanh_s - _E2SN * atanh_es
    t = (np.exp(u) - np.exp(-u)) / 2.0
    cl = np.cos(lam)
    xi0 = np.arctan2(t, cl)
    w = np.sin(lam) / np.sqrt(t * t + cl * cl)
    eta0 = np.log(w + np.sqrt(w * w + 1.0))
    xi, eta = xi0.copy(), eta0.copy()
    for j, a in enumerate(_ALPHA, start=1):
        e2j = np.exp(2.0 * j * eta0)
        cosh_j = (e2j + 1.0 / e2j) / 2.0
        sinh_j = (e2j - 1.0 / e2j) / 2.0
        xi = xi + a * np.sin(2.0 * j * xi0) * cosh_j
        eta = eta + a * np.cos(2.0 * j * xi0) * sinh_j
    return _UTM_FE + _K0_UTM * _TM_A * eta, fn + _K0_UTM * _TM_A * xi


def utm_sql(lon: str, lat: str, lon0: str, fn: str) -> str:
    """DuckDB expression pair reproducing ``utm_oracle_kernel`` bit-for-bit:
    returns ``(easting_sql, northing_sql)``. Hyperbolics composed from
    exp/ln in the identical order; series coefficients embedded via repr
    (exact double literals)."""
    d2r = repr(float(np.pi) / 180.0)
    lam = f"((({lon}) - ({lon0})) * {d2r})"
    phi = f"(({lat}) * {d2r})"
    s = f"sin({phi})"
    atanh_s = f"(0.5 * ln((1.0 + {s}) / (1.0 - {s})))"
    es = f"({_E2SN!r} * {s})"
    atanh_es = f"(0.5 * ln((1.0 + {es}) / (1.0 - {es})))"
    u = f"({atanh_s} - {_E2SN!r} * {atanh_es})"
    t = f"((exp({u}) - exp(-{u})) / 2.0)"
    cl = f"cos({lam})"
    xi0 = f"atan2({t}, {cl})"
    w = f"(sin({lam}) / sqrt({t} * {t} + {cl} * {cl}))"
    eta0 = f"ln({w} + sqrt({w} * {w} + 1.0))"
    xi_terms = [xi0]
    eta_terms = [eta0]
    for j, a in enumerate(_ALPHA, start=1):
        e2j = f"exp({2.0 * j!r} * {eta0})"
        cosh_j = f"(({e2j} + 1.0 / {e2j}) / 2.0)"
        sinh_j = f"(({e2j} - 1.0 / {e2j}) / 2.0)"
        xi_terms.append(f"{a!r} * sin({2.0 * j!r} * {xi0}) * {cosh_j}")
        eta_terms.append(f"{a!r} * cos({2.0 * j!r} * {xi0}) * {sinh_j}")
    k0a = f"{_K0_UTM * _TM_A!r}"
    easting = f"({_UTM_FE!r} + {k0a} * (" + " + ".join(eta_terms) + "))"
    northing = f"(({fn}) + {k0a} * (" + " + ".join(xi_terms) + "))"
    return easting, northing


def transform_points(src_crs: str, dst_crs: str, x, y):
    """Coordinate arrays from src_crs to dst_crs (identity when equal);
    any pair composes through lon/lat."""
    s, d = _norm_crs(src_crs), _norm_crs(dst_crs)
    if s == d:
        return np.asarray(x, np.float64), np.asarray(y, np.float64)
    return _from_lonlat(d, *_to_lonlat(s, x, y))


def warp_array(
    arr: np.ndarray,
    src_bounds: tuple[float, float, float, float],
    src_crs: str,
    dst_bounds: tuple[float, float, float, float],
    dst_crs: str,
    out_h: int,
    out_w: int,
    method: str = "nearest",
    nodata: float = NODATA,
) -> np.ndarray:
    """Inverse-mapping warp of an (H, W, C) array from (src_bounds, src_crs)
    to an (out_h, out_w) grid over (dst_bounds, dst_crs). Bounds are
    (minx, miny, maxx, maxy) in their CRS; row 0 is the top (max y).
    Destination pixels whose center falls outside the source extent get
    ``nodata`` — gdalwarp's -dstnodata behavior."""
    h, w, c = arr.shape
    sminx, sminy, smaxx, smaxy = (float(v) for v in src_bounds)
    dminx, dminy, dmaxx, dmaxy = (float(v) for v in dst_bounds)
    # destination pixel centers in dst CRS
    dx = dminx + (np.arange(out_w) + 0.5) * (dmaxx - dminx) / out_w
    dy = dmaxy - (np.arange(out_h) + 0.5) * (dmaxy - dminy) / out_h
    gx, gy = np.meshgrid(dx, dy)
    sx, sy = transform_points(dst_crs, src_crs, gx.ravel(), gy.ravel())
    # fractional source pixel coordinates
    fx = (sx - sminx) / (smaxx - sminx) * w - 0.5
    fy = (smaxy - sy) / (smaxy - sminy) * h - 0.5
    out = np.full((out_h * out_w, c), nodata, dtype=np.float32)
    if method == "nearest":
        xi = np.rint(fx).astype(np.int64)
        yi = np.rint(fy).astype(np.int64)
        ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
        out[ok] = arr[yi[ok], xi[ok], :]
    elif method == "bilinear":
        x0 = np.floor(fx).astype(np.int64)
        y0 = np.floor(fy).astype(np.int64)
        ok = (fx >= -0.5) & (fx <= w - 0.5) & (fy >= -0.5) & (fy <= h - 0.5)
        x0c = np.clip(x0, 0, w - 1)
        y0c = np.clip(y0, 0, h - 1)
        x1c = np.clip(x0 + 1, 0, w - 1)
        y1c = np.clip(y0 + 1, 0, h - 1)
        wx = np.clip(fx - x0, 0.0, 1.0)[:, None]
        wy = np.clip(fy - y0, 0.0, 1.0)[:, None]
        a = arr.astype(np.float64).reshape(h * w, c)
        top = a[y0c * w + x0c] * (1 - wx) + a[y0c * w + x1c] * wx
        bot = a[y1c * w + x0c] * (1 - wx) + a[y1c * w + x1c] * wx
        val = (top * (1 - wy) + bot * wy).astype(np.float32)
        out[ok] = val[ok]
    else:
        raise ValueError(method)
    return out.reshape(out_h, out_w, c)
