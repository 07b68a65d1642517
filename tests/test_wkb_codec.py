"""WKB geometry codec: decode, Force2D, centroid, WKT (functions/wkb.py).

Expectations are computed by hand (no geometry library in the container) and
mirror ST_Centroid / ST_AsText(ST_Force2D(..)) semantics the reference gets
from DuckDB spatial (geo_strategy.rs:140,283).
"""

from __future__ import annotations

import math
import struct

import pytest

from duckdb_postgis_spark.functions.wkb import (
    centroid,
    from_wkt,
    parse_geometry,
    to_wkt,
    transform_geom,
    wkb_decode,
    wkb_encode,
)


def _le(kind: int, body: bytes) -> bytes:
    return struct.pack("<BI", 1, kind) + body


def _coords(pts) -> bytes:
    out = struct.pack("<I", len(pts))
    for x, y in pts:
        out += struct.pack("<dd", x, y)
    return out


def test_linestring_centroid_and_wkt():
    wkb = _le(2, _coords([(0, 0), (10, 0), (10, 10)]))
    g = wkb_decode(wkb)
    # two segments length 10 each: midpoints (5,0) and (10,5) equally weighted
    assert centroid(g) == (7.5, 2.5)
    assert to_wkt(g) == "LINESTRING (0 0, 10 0, 10 10)"


def test_polygon_with_hole_centroid():
    shell = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    hole = [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]
    wkb = _le(3, struct.pack("<I", 2) + _coords(shell) + _coords(hole))
    g = wkb_decode(wkb)
    cx, cy = centroid(g)
    # shell area 100 c=(5,5); hole area 4 c=(3,3) → (500-12)/96
    assert cx == pytest.approx((500 - 12) / 96)
    assert cy == pytest.approx((500 - 12) / 96)
    assert to_wkt(g).startswith("POLYGON ((0 0, 10 0,")


def test_point_z_iso_and_2d_force():
    wkb = struct.pack("<BIddd", 1, 1001, 1.5, 2.5, 99.0)  # ISO PointZ
    g = wkb_decode(wkb)
    assert g == ("Point", (1.5, 2.5))
    assert to_wkt(g) == "POINT (1.5 2.5)"


def test_point_big_endian():
    wkb = struct.pack(">BIdd", 0, 1, 3.0, 4.0)
    assert wkb_decode(wkb) == ("Point", (3.0, 4.0))


def test_multipolygon_area_weighted():
    sq = lambda x0, s: [(x0, 0), (x0 + s, 0), (x0 + s, s), (x0, s), (x0, 0)]  # noqa: E731
    p1 = _le(3, struct.pack("<I", 1) + _coords(sq(0, 2)))  # area 4, c=(1,1)
    p2 = _le(3, struct.pack("<I", 1) + _coords(sq(10, 4)))  # area 16, c=(12,2)
    wkb = _le(6, struct.pack("<I", 2) + p1 + p2)
    cx, cy = centroid(wkb_decode(wkb))
    assert cx == pytest.approx((1 * 4 + 12 * 16) / 20)
    assert cy == pytest.approx((1 * 4 + 2 * 16) / 20)


def test_ewkb_srid_header_skipped():
    wkb = struct.pack("<BIIdd", 1, 1 | 0x20000000, 4326, 7.0, 8.0)
    assert wkb_decode(wkb) == ("Point", (7.0, 8.0))


def test_transform_applies_to_every_coordinate():
    wkb = _le(2, _coords([(0, 0), (2, 2)]))
    g = transform_geom(wkb_decode(wkb), lambda x, y: (x + 100, y - 1))
    assert g == ("LineString", [(100, -1), (102, 1)])


def test_probe_ladder_uses_centroid_for_lines():
    wkb = _le(2, _coords([(0, 0), (10, 0)]))
    assert centroid(parse_geometry(wkb)) == (5.0, 0.0)
    assert centroid(parse_geometry(wkb.hex())) == (5.0, 0.0)
    assert centroid(parse_geometry("LINESTRING (0 0, 10 0)")) == (5.0, 0.0)


def test_centroid_of_empty_is_nan():
    # ST_Centroid of an empty geometry is POINT EMPTY; the CRS probe skips it
    empty_point = parse_geometry(struct.pack("<BIdd", 1, 1, math.nan, math.nan))
    for g in (
        empty_point,
        ("LineString", []),
        ("Polygon", []),
        ("Polygon", [[]]),
        ("MultiPoint", []),
        ("MultiPolygon", [("Polygon", [])]),
        ("GeometryCollection", []),
    ):
        assert not any(map(math.isfinite, centroid(g))), g


def test_wkt_full_double_precision():
    # ADVICE round 1: %g truncated to 6 significant digits (~40 m lon shift);
    # WKT must round-trip the exact double, like ST_AsText
    wkb = struct.pack("<BIdd", 1, 1, 121.123456, 31.2304)
    wkt = to_wkt(wkb_decode(wkb))
    assert wkt == "POINT (121.123456 31.2304)"
    body = wkt[wkt.index("(") + 1 : -1].split()
    assert float(body[0]) == 121.123456 and float(body[1]) == 31.2304
    # 17-sig-digit value survives exactly
    x = 0.1 + 0.2  # 0.30000000000000004
    wkb2 = struct.pack("<BIdd", 1, 1, x, -0.0000123456789012345)
    b2 = to_wkt(wkb_decode(wkb2))
    p = b2[b2.index("(") + 1 : -1].split()
    assert float(p[0]) == x and float(p[1]) == -0.0000123456789012345
    # integral doubles stay integer-formatted (canonical form unchanged)
    assert to_wkt(("Point", (1.0, -2.0))) == "POINT (1 -2)"


def test_wkt_rejects_non_finite():
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="non-finite"):
            to_wkt(("Point", (bad, 0.0)))


# --------------------------------------------------------------------------
# hypothesis fuzz: WKB encode/decode round-trips for arbitrary coordinates
_SQ = [(0.5, 0.0), (10.25, 0.0), (10.25, 10.0), (0.5, 10.0), (0.5, 0.0)]
_HOLE = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 2.0)]
_GEOMS = [
    ("Point", (-0.1275, 51.50722)),
    ("LineString", [(0.0, 0.0), (1.5, 2.25), (-3e-07, 1e21)]),
    ("Polygon", [_SQ, _HOLE]),
    ("MultiPoint", [("Point", (1.0, 2.0)), ("Point", (3.5, -4.0))]),
    ("MultiLineString", [("LineString", _SQ[:2]), ("LineString", _HOLE)]),
    ("MultiPolygon", [("Polygon", [_SQ, _HOLE]), ("Polygon", [_HOLE])]),
    (
        "GeometryCollection",
        [
            ("Point", (1.0, 2.0)),
            ("Polygon", [_SQ]),
            ("MultiPoint", [("Point", (0.0, 0.0))]),
        ],
    ),
]
# every kind but Point has an EMPTY spelling (an empty point is NaN NaN)
_EMPTY = [
    (kind, [])
    for kind in (
        "LineString", "Polygon", "MultiPoint", "MultiLineString",
        "MultiPolygon", "GeometryCollection",
    )
]
_EMPTY_MEMBER = ("GeometryCollection", [("LineString", []), ("Point", (1.0, 2.0))])


@pytest.mark.parametrize(
    "g",
    [*_GEOMS, *_EMPTY, _EMPTY_MEMBER],
    ids=[g[0] for g in _GEOMS]
    + [f"{g[0]}_empty" for g in _EMPTY]
    + ["GeometryCollection_empty_member"],
)
def test_from_wkt_inverts_to_wkt(g):
    wkt = to_wkt(g)
    assert to_wkt(from_wkt(wkt)) == wkt
    assert from_wkt(wkt) == g
    assert wkb_decode(wkb_encode(g)) == g


def test_from_wkt_accepted_spellings():
    assert from_wkt("point(1 2)") == ("Point", (1.0, 2.0))
    assert from_wkt("SRID=27700;POINT Z (1 2 3)") == ("Point", (1.0, 2.0))
    assert from_wkt("LINESTRINGM (0 0 7, 1 1 8)") == (
        "LineString",
        [(0.0, 0.0), (1.0, 1.0)],
    )
    assert from_wkt("MULTIPOINT ((1 2), (3 4))") == from_wkt("MULTIPOINT (1 2, 3 4)")


@pytest.mark.parametrize(
    "text",
    [
        "POINT EMPTY",
        "POINT (1)",
        "POINT (1 2) x",
        "POLYGON ((0 0, 1 1)",
        "CIRCLE (0 0)",
        "",
    ],
)
def test_from_wkt_rejects(text):
    with pytest.raises(ValueError):
        from_wkt(text)


# --------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e15, max_value=1e15
)


@settings(max_examples=200, deadline=None)
@given(x=finite, y=finite)
def test_fuzz_point_wkb_roundtrip(x, y):
    wkb = struct.pack("<BIdd", 1, 1, x, y)  # little-endian WKB point
    geom = wkb_decode(wkb)
    assert geom is not None
    wkt = to_wkt(geom)
    # shortest-roundtrip repr: parsing the WKT text back yields the same doubles
    nums = wkt[wkt.index("(") + 1 : wkt.rindex(")")].split()
    assert float(nums[0]) == x and float(nums[1]) == y


@settings(max_examples=100, deadline=None)
@given(
    pts=st.lists(st.tuples(finite, finite), min_size=2, max_size=12),
    big_endian=st.booleans(),
)
def test_fuzz_linestring_wkb_roundtrip(pts, big_endian):
    bo = ">" if big_endian else "<"
    wkb = struct.pack(f"{bo}BI", 0 if big_endian else 1, 2) + struct.pack(
        f"{bo}I", len(pts)
    )
    for x, y in pts:
        wkb += struct.pack(f"{bo}dd", x, y)
    geom = wkb_decode(wkb)
    assert geom is not None
    wkt = to_wkt(geom)
    body = wkt[wkt.index("(") + 1 : wkt.rindex(")")]
    got = [tuple(map(float, pair.split())) for pair in body.split(", ")]
    assert got == [(x, y) for x, y in pts]
