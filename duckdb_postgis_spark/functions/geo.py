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


def _meridional_arc(phi: float, ell: _Ellipsoid) -> float:
    a, b = ell.a, ell.b
    n = (a - b) / (a + b)
    n2, n3 = n * n, n * n * n
    dphi, sphi = phi - _LAT0, phi + _LAT0
    return (
        b
        * _F0
        * (
            (1 + n + 1.25 * n2 + 1.25 * n3) * dphi
            - (3 * n + 3 * n2 + 2.625 * n3) * math.sin(dphi) * math.cos(sphi)
            + (1.875 * n2 + 1.875 * n3) * math.sin(2 * dphi) * math.cos(2 * sphi)
            - (35.0 / 24.0) * n3 * math.sin(3 * dphi) * math.cos(3 * sphi)
        )
    )


def _tm_inverse_osgb36(easting: float, northing: float) -> tuple[float, float]:
    """BNG E/N → OSGB36 lat/lon (radians). Standard OS inverse TM series."""
    ell = _AIRY
    a, e2 = ell.a, ell.e2
    phi = _LAT0
    M = 0.0
    while True:
        phi = (northing - _N0 - M) / (a * _F0) + phi
        M = _meridional_arc(phi, ell)
        if not abs(northing - _N0 - M) >= 1e-5:  # a NaN input stops too
            break
    sphi, cphi, tphi = math.sin(phi), math.cos(phi), math.tan(phi)
    nu = a * _F0 / math.sqrt(1 - e2 * sphi * sphi)
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
    dE = easting - _E0
    lat = phi - VII * dE**2 + VIII * dE**4 - IX * dE**6
    lon = _LON0 + X * dE - XI * dE**3 + XII * dE**5 - XIIA * dE**7
    return lat, lon


def _geodetic_to_cartesian(lat, lon, ell: _Ellipsoid):
    sphi, cphi = math.sin(lat), math.cos(lat)
    nu = ell.a / math.sqrt(1 - ell.e2 * sphi * sphi)
    return (
        nu * cphi * math.cos(lon),
        nu * cphi * math.sin(lon),
        nu * (1 - ell.e2) * sphi,
    )


def _cartesian_to_geodetic(x, y, z, ell: _Ellipsoid):
    lon = math.atan2(y, x)
    p = math.hypot(x, y)
    lat = math.atan2(z, p * (1 - ell.e2))
    for _ in range(8):
        sphi = math.sin(lat)
        nu = ell.a / math.sqrt(1 - ell.e2 * sphi * sphi)
        lat = math.atan2(z + ell.e2 * nu * sphi, p)
    return lat, lon


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


def osgb36_to_wgs84(lat: float, lon: float) -> tuple[float, float]:
    """Datum shift OSGB36 → WGS84 via 7-param Helmert (radians in/out)."""
    x, y, z = _geodetic_to_cartesian(lat, lon, _AIRY)
    h = _HELMERT
    x2 = h["tx"] + (1 + h["s"]) * x - h["rz"] * y + h["ry"] * z
    y2 = h["ty"] + h["rz"] * x + (1 + h["s"]) * y - h["rx"] * z
    z2 = h["tz"] - h["ry"] * x + h["rx"] * y + (1 + h["s"]) * z
    return _cartesian_to_geodetic(x2, y2, z2, _WGS84)


def bng_to_wgs84(easting: float, northing: float) -> tuple[float, float]:
    """EPSG:27700 → EPSG:4326 (lon, lat degrees) — the ST_Transform path the
    reference executes for British data (geo_strategy.rs:288)."""
    lat36, lon36 = _tm_inverse_osgb36(easting, northing)
    lat84, lon84 = osgb36_to_wgs84(lat36, lon36)
    return math.degrees(lon84), math.degrees(lat84)


def bng_to_wgs84_vec(easting, northing):
    """Vectorized bng_to_wgs84 over NumPy arrays — the whole OSGB chain
    (inverse TM series, Helmert datum shift, geodetic iteration) in array
    ops (guide §4.2: batch math instead of a Python loop per row).

    Float discipline: np.sin/cos/sqrt are bit-identical to math.* on this
    build (measured); tan/atan2/power differ by ≤ a few ulp, which is
    ~1e-16 relative against the query's ROUND(·, 6) output granularity
    and the oracle's measured ≤1.5e-14 cross-engine residual.  The
    registered query's input domain is FINITE (easting/northing are
    p_partkey % 4000 / % 10000 lattices → ≤ 20000 distinct pairs at any
    scale factor), and tests/test_geo_transform_vec.py proves the rounded
    outputs equal the scalar path's over that ENTIRE domain, plus ulp-level
    agreement of the raw radians.  The meridian-arc loop freezes each lane
    at ITS convergence step (the mask), reproducing the scalar loop's
    per-point iteration count exactly.  Returns (lon_deg, lat_deg)."""
    import numpy as np

    E = np.asarray(easting, dtype="float64")
    N = np.asarray(northing, dtype="float64")

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
    return lon84 * deg, lat84 * deg


# --------------------------------------------------------------------------
# EPSG:3857 (Web Mercator) ↔ EPSG:4326
# --------------------------------------------------------------------------

_R_MAJOR = 6378137.0


def webmercator_to_wgs84(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / _R_MAJOR)
    lat = math.degrees(2 * math.atan(math.exp(y / _R_MAJOR)) - math.pi / 2)
    return lon, lat


def wgs84_to_webmercator(lon: float, lat: float) -> tuple[float, float]:
    x = _R_MAJOR * math.radians(lon)
    y = _R_MAJOR * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


def transform_xy(x: float, y: float, src: str, dst: str = "4326") -> tuple[float, float]:
    """Dispatch mirroring the reachable ST_Transform surface
    (geo_strategy.rs:281-291: skip when src == dst)."""
    if src == dst:
        return x, y
    if dst != "4326":
        raise ValueError(f"unsupported target CRS {dst}")
    if src == "27700":
        return bng_to_wgs84(x, y)
    if src == "3857":
        return webmercator_to_wgs84(x, y)
    raise ValueError(f"unsupported source CRS {src}")
