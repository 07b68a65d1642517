"""Geospatial math, pure-python/NumPy — no GDAL/shapely/pyproj dependency.

Ports the reference's geo semantics (reference file:line cited per function):
  - CRS range classifier thresholds    geo_strategy.rs:228-253
  - PRJ-text CRS sniff                 geo_strategy.rs:22-44
  - EPSG:27700 / 3857 → 4326 transform geo_strategy.rs:283-291 (ST_Transform)

The reference's CRS detector can only ever emit 4326, 27700, or 3857
(geo_strategy.rs:228-253), so closed-form Transverse-Mercator (OSGB
published constants) + Web-Mercator math covers the full reachable
transform surface with no external library.  Geometry values themselves
(the WKB/hex/WKT probe ladder of geo_strategy.rs:105-183, WKB encode, WKT
print) are parsed and written only in functions/wkb.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from duckdb_postgis_spark.functions.wkb import wkb_encode

# --------------------------------------------------------------------------
# CRS inference — exact port of the reference decision ladder
# --------------------------------------------------------------------------


def classify_crs_from_ranges(
    min_x: float, max_x: float, min_y: float, max_y: float
) -> str:
    """Range-based CRS classifier (geo_strategy.rs:228-253, same thresholds,
    same precedence):
      1. lon/lat within [-180,180]×[-90,90] and extent < 10° → EPSG:4326
      2. [0,800000]×[0,1400000] with min > 1000 → EPSG:27700 (British Grid)
      3. Web-Mercator bounds with extent > 10000 → EPSG:3857
      4. fallback → EPSG:4326
    """
    if (
        min_x >= -180.0
        and max_x <= 180.0
        and min_y >= -90.0
        and max_y <= 90.0
        and (max_x - min_x) < 10.0
        and (max_y - min_y) < 10.0
    ):
        return "4326"
    if (
        min_x >= 0.0
        and max_x <= 800000.0
        and min_y >= 0.0
        and max_y <= 1400000.0
        and min_x > 1000.0
        and min_y > 1000.0
    ):
        return "27700"
    if (
        -20037508.0 <= min_x
        and max_x <= 20037508.0
        and -20037508.0 <= min_y
        and max_y <= 20037508.0
        and ((max_x - min_x) > 10000.0 or (max_y - min_y) > 10000.0)
    ):
        return "3857"
    return "4326"


def crs_from_prj_text(prj: str) -> str:
    """PRJ sidecar sniff (geo_strategy.rs:35-43): OSGB / 27700 → 27700,
    anything else → 4326."""
    return "27700" if ("OSGB" in prj or "27700" in prj) else "4326"


# --------------------------------------------------------------------------
# WKB point (the codec itself is functions/wkb.py)
# --------------------------------------------------------------------------


def wkb_point_encode(x: float, y: float) -> bytes:
    """Serialize a 2D point as little-endian WKB (the interchange form the
    reference probes with ST_GeomFromWKB, geo_strategy.rs:140)."""
    return wkb_encode(("Point", (x, y)))


# --------------------------------------------------------------------------
# EPSG:27700 (British National Grid, Airy 1830 + OSGB36 datum) → EPSG:4326
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class _Ellipsoid:
    a: float
    b: float

    @property
    def e2(self) -> float:
        return (self.a**2 - self.b**2) / self.a**2


_AIRY = _Ellipsoid(a=6377563.396, b=6356256.909)
_WGS84 = _Ellipsoid(a=6378137.000, b=6356752.3141)

# OSNG projection constants (published OS "A guide to coordinate systems in GB")
_F0 = 0.9996012717
_LAT0 = math.radians(49.0)
_LON0 = math.radians(-2.0)
_N0 = -100000.0
_E0 = 400000.0


# Helmert OSGB36 → WGS84 (published 7-parameter transformation, ~±3 m)
_HELMERT = dict(
    tx=446.448,
    ty=-125.157,
    tz=542.060,
    s=20.4894e-6,
    rx=math.radians(0.1502 / 3600.0),
    ry=math.radians(0.2470 / 3600.0),
    rz=math.radians(0.8421 / 3600.0),
)


def bng_to_wgs84(easting, northing):
    """EPSG:27700 → EPSG:4326 (lon, lat degrees) over NumPy arrays — the
    ST_Transform path the reference executes for British data
    (geo_strategy.rs:288), and the only implementation of it here.  The
    whole OSGB chain (inverse TM series, Helmert datum shift, geodetic
    iteration) runs as array ops, one call per batch.  The meridian-arc
    loop freezes each lane at its own convergence step (the mask), so a
    point's output does not depend on the batch around it; a NaN input
    ends its lane's loop and stays NaN.  tests/test_geo_transform_vec.py
    checks the kernel against the DuckDB replay ``_bng_sql_oracle`` over
    the whole input domain of geo_transform_27700_to_4326."""
    # 1-D even for a scalar: numpy's scalar ``**`` (libm pow) and its array
    # ``**`` differ by ulps, so a 0-d point would drift from the same point
    # inside a batch
    shape = np.shape(easting)
    E = np.ravel(np.asarray(easting, dtype="float64"))
    N = np.ravel(np.asarray(northing, dtype="float64"))

    # ---- inverse TM (OSGB36), per-lane-frozen meridian iteration ----
    a, e2 = _AIRY.a, _AIRY.e2
    b = _AIRY.b
    n = (a - b) / (a + b)
    n2, n3 = n * n, n * n * n
    phi = np.full_like(E, _LAT0)
    M = np.zeros_like(E)
    active = np.ones(E.shape, dtype=bool)
    while active.any():
        phi = np.where(active, (N - _N0 - M) / (a * _F0) + phi, phi)
        dphi, sphi_ = phi - _LAT0, phi + _LAT0
        M_new = (
            b
            * _F0
            * (
                (1 + n + 1.25 * n2 + 1.25 * n3) * dphi
                - (3 * n + 3 * n2 + 2.625 * n3) * np.sin(dphi) * np.cos(sphi_)
                + (1.875 * n2 + 1.875 * n3) * np.sin(2 * dphi) * np.cos(2 * sphi_)
                - (35.0 / 24.0) * n3 * np.sin(3 * dphi) * np.cos(3 * sphi_)
            )
        )
        M = np.where(active, M_new, M)
        active = active & (np.abs(N - _N0 - M) >= 1e-5)
    sphi, cphi, tphi = np.sin(phi), np.cos(phi), np.tan(phi)
    nu = a * _F0 / np.sqrt(1 - e2 * sphi * sphi)
    rho = a * _F0 * (1 - e2) / (1 - e2 * sphi * sphi) ** 1.5
    eta2 = nu / rho - 1
    t2, t4 = tphi * tphi, tphi**4
    VII = tphi / (2 * rho * nu)
    VIII = tphi / (24 * rho * nu**3) * (5 + 3 * t2 + eta2 - 9 * t2 * eta2)
    IX = tphi / (720 * rho * nu**5) * (61 + 90 * t2 + 45 * t4)
    X = 1.0 / (cphi * nu)
    XI = 1.0 / (cphi * 6 * nu**3) * (nu / rho + 2 * t2)
    XII = 1.0 / (cphi * 120 * nu**5) * (5 + 28 * t2 + 24 * t4)
    XIIA = 1.0 / (cphi * 5040 * nu**7) * (61 + 662 * t2 + 1320 * t4 + 720 * t2**3)
    dE = E - _E0
    lat36 = phi - VII * dE**2 + VIII * dE**4 - IX * dE**6
    lon36 = _LON0 + X * dE - XI * dE**3 + XII * dE**5 - XIIA * dE**7

    # ---- geodetic → cartesian (Airy) ----
    s36, c36 = np.sin(lat36), np.cos(lat36)
    nu36 = _AIRY.a / np.sqrt(1 - _AIRY.e2 * s36 * s36)
    x = nu36 * c36 * np.cos(lon36)
    y = nu36 * c36 * np.sin(lon36)
    z = nu36 * (1 - _AIRY.e2) * s36

    # ---- Helmert OSGB36 → WGS84 ----
    h = _HELMERT
    x2 = h["tx"] + (1 + h["s"]) * x - h["rz"] * y + h["ry"] * z
    y2 = h["ty"] + h["rz"] * x + (1 + h["s"]) * y - h["rx"] * z
    z2 = h["tz"] - h["ry"] * x + h["rx"] * y + (1 + h["s"]) * z

    # ---- cartesian → geodetic (WGS84), fixed 8 iterations ----
    lon84 = np.arctan2(y2, x2)
    p = np.hypot(x2, y2)
    lat84 = np.arctan2(z2, p * (1 - _WGS84.e2))
    for _ in range(8):
        s84 = np.sin(lat84)
        nu84 = _WGS84.a / np.sqrt(1 - _WGS84.e2 * s84 * s84)
        lat84 = np.arctan2(z2 + _WGS84.e2 * nu84 * s84, p)
    deg = 180.0 / math.pi
    return (lon84 * deg).reshape(shape), (lat84 * deg).reshape(shape)


# --------------------------------------------------------------------------
# EPSG:3857 (Web Mercator) ↔ EPSG:4326
# --------------------------------------------------------------------------

_R_MAJOR = 6378137.0


def webmercator_to_wgs84(x, y):
    """EPSG:3857 → EPSG:4326 (lon, lat degrees) over NumPy arrays; a y
    whose exponential overflows reprojects to NaN."""
    e = np.exp(np.asarray(y, dtype="float64") / _R_MAJOR)
    lon = np.degrees(np.asarray(x, dtype="float64") / _R_MAJOR)
    lat = np.degrees(2 * np.arctan(e) - math.pi / 2)
    return lon, np.where(np.isfinite(e), lat, math.nan)


def wgs84_to_webmercator(lon: float, lat: float) -> tuple[float, float]:
    x = _R_MAJOR * math.radians(lon)
    y = _R_MAJOR * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


def transform_xy(x, y, src: str, dst: str = "4326"):
    """Dispatch mirroring the reachable ST_Transform surface
    (geo_strategy.rs:281-291: skip when src == dst).  ``x``/``y`` are
    arrays (one call per batch) or scalars; a scalar call returns a tuple
    of Python floats."""
    if src == dst:
        return x, y
    if dst != "4326":
        raise ValueError(f"unsupported target CRS {dst}")
    if src == "27700":
        lon, lat = bng_to_wgs84(x, y)
    elif src == "3857":
        lon, lat = webmercator_to_wgs84(x, y)
    else:
        raise ValueError(f"unsupported source CRS {src}")
    if np.ndim(lon) == 0:
        return float(lon), float(lat)
    return lon, lat
