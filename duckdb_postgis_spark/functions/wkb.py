"""Pure-Python geometry codec: every geometry value is parsed, written and
printed here (WKB/hex/WKT parse, WKB encode, Force2D, centroid, WKT print).

The reference probes arbitrary geometries by centroid (``ST_Centroid``,
geo_strategy.rs:140,157,174) and normalizes them to 2D WKT
(``ST_AsText(ST_Force2D(ST_Transform(...)))``, geo_strategy.rs:283-291)
through DuckDB's spatial extension. No geometry library ships in this
container, so this module implements exactly the needed slice: the seven
standard WKB types, both endiannesses, ISO-3D/measured (1001/2001/3001-style
and 0x80000000-flag 2.5D) coordinates dropped to 2D, EWKB SRID headers
skipped, proper geometric centroids (length-weighted for lines,
shoelace-area-weighted for polygons with holes subtracted), and canonical
WKT output.

Geometry representation: ``(kind, payload)`` where payload is a point tuple,
a coordinate list, a ring list, or a list of child geometries.
"""

from __future__ import annotations

import math
import re
import struct

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000

_KINDS = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
    7: "GeometryCollection",
}
_CODES = {kind: code for code, kind in _KINDS.items()}

Geom = tuple[str, object]


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def take(self, fmt: str):
        vals = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos += struct.calcsize(fmt)
        return vals


def wkb_decode(buf: bytes) -> Geom:
    """Decode one WKB geometry (recursively for Multi*/collections),
    dropping Z/M to 2D (the Force2D of geo_strategy.rs:283)."""
    g, _ = _decode_at(_Reader(bytes(buf)))
    return g


def _decode_at(r: _Reader) -> tuple[Geom, _Reader]:
    (order,) = r.take("B")
    bo = "<" if order == 1 else ">"
    (raw_type,) = r.take(f"{bo}I")
    if raw_type & _EWKB_SRID:
        r.take(f"{bo}I")  # skip SRID
    has_z = bool(raw_type & _EWKB_Z)
    has_m = bool(raw_type & _EWKB_M)
    base = raw_type & 0x0FFFFFFF & ~(_EWKB_Z | _EWKB_M)
    if base >= 1000:  # ISO codes: 1001=PointZ, 2001=PointM, 3001=PointZM
        iso = base // 1000
        has_z = has_z or iso in (1, 3)
        has_m = has_m or iso in (2, 3)
        base = base % 1000
    kind = _KINDS.get(base)
    if kind is None:
        raise ValueError(f"unsupported WKB geometry type {raw_type}")
    extra = (1 if has_z else 0) + (1 if has_m else 0)
    ncoord = 2 + extra

    def read_pt():
        vals = r.take(f"{bo}{ncoord}d")
        return (vals[0], vals[1])

    def read_coords():
        (n,) = r.take(f"{bo}I")
        return [read_pt() for _ in range(n)]

    if kind == "Point":
        return (kind, read_pt()), r
    if kind == "LineString":
        return (kind, read_coords()), r
    if kind == "Polygon":
        (nrings,) = r.take(f"{bo}I")
        return (kind, [read_coords() for _ in range(nrings)]), r
    # Multi* / collection: children are full WKB geometries
    (n,) = r.take(f"{bo}I")
    kids = []
    for _ in range(n):
        kid, r = _decode_at(r)
        kids.append(kid)
    return (kind, kids), r


def wkb_encode(g: Geom) -> bytes:
    """2D little-endian ISO WKB (ST_AsBinary); the inverse of ``wkb_decode``
    on such input."""
    kind, payload = g
    if kind == "Point":
        return struct.pack("<BIdd", 1, 1, *payload)
    if kind == "LineString":
        return struct.pack("<BI", 1, 2) + _coords_wkb(payload)
    head = struct.pack("<BII", 1, _CODES[kind], len(payload))
    if kind == "Polygon":
        return head + b"".join(_coords_wkb(ring) for ring in payload)
    return head + b"".join(wkb_encode(k) for k in payload)


def _coords_wkb(coords) -> bytes:
    flat = [v for p in coords for v in p]
    return struct.pack(f"<I{len(flat)}d", len(coords), *flat)


def parse_geometry(value: object) -> Geom | None:
    """The probe ladder of geo_strategy.rs:105-183 (ST_GeomFromWKB, then
    hex WKB, then ST_GeomFromText): bytes are read as WKB, a str as hex
    WKB and failing that as WKT.  Returns None for anything that fails
    to decode."""
    try:
        if isinstance(value, (bytes, bytearray)):
            return wkb_decode(value)
        if isinstance(value, str):
            try:
                return wkb_decode(bytes.fromhex(value.strip()))
            except (ValueError, struct.error):
                return from_wkt(value)
    except (ValueError, struct.error, RecursionError):
        pass
    return None


# --------------------------------------------------------------------------
# centroid (matches ST_Centroid semantics: area > length > points)
# --------------------------------------------------------------------------
def centroid(g: Geom) -> tuple[float, float]:
    """ST_Centroid; an empty geometry has the empty point's (NaN, NaN)."""
    kind, payload = g
    if kind == "Point":
        return payload  # type: ignore[return-value]
    if not payload:
        return (math.nan, math.nan)
    if kind == "LineString":
        return _line_centroid(payload)  # type: ignore[arg-type]
    if kind == "Polygon":
        return _polygon_centroid(payload)  # type: ignore[arg-type]
    if kind == "MultiPoint":
        pts = [p[1] for p in payload]  # type: ignore[union-attr]
        return (
            sum(p[0] for p in pts) / len(pts),
            sum(p[1] for p in pts) / len(pts),
        )
    if kind == "MultiLineString":
        return _weighted(payload, _line_centroid_w)  # type: ignore[arg-type]
    if kind == "MultiPolygon":
        return _weighted(payload, _polygon_centroid_w)  # type: ignore[arg-type]
    if kind == "GeometryCollection":
        cs = [centroid(k) for k in payload]  # type: ignore[union-attr]
        return (sum(c[0] for c in cs) / len(cs), sum(c[1] for c in cs) / len(cs))
    raise ValueError(kind)


def _line_centroid_w(coords) -> tuple[float, float, float]:
    cx = cy = w = 0.0
    for (x1, y1), (x2, y2) in zip(coords, coords[1:]):
        seg = math.hypot(x2 - x1, y2 - y1)
        cx += (x1 + x2) / 2 * seg
        cy += (y1 + y2) / 2 * seg
        w += seg
    if w == 0.0:  # degenerate: all vertices coincident, or none
        return (*coords[0], 1.0) if coords else (math.nan, math.nan, 0.0)
    return cx / w, cy / w, w


def _line_centroid(coords) -> tuple[float, float]:
    x, y, _ = _line_centroid_w(coords)
    return x, y


def _ring_area_centroid(ring) -> tuple[float, float, float]:
    """Signed shoelace area + area-weighted centroid of one ring."""
    a = cx = cy = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        cross = x1 * y2 - x2 * y1
        a += cross
        cx += (x1 + x2) * cross
        cy += (y1 + y2) * cross
    a /= 2.0
    if a == 0.0:
        return 0.0, 0.0, 0.0
    return cx / (6.0 * a), cy / (6.0 * a), a


def _polygon_centroid_w(rings) -> tuple[float, float, float]:
    cx = cy = w = 0.0
    for i, ring in enumerate(rings):
        x, y, a = _ring_area_centroid(ring)
        a = abs(a) * (1.0 if i == 0 else -1.0)  # holes subtract
        cx += x * a
        cy += y * a
        w += a
    if w == 0.0:
        return _line_centroid_w(rings[0] if rings else [])
    return cx / w, cy / w, w


def _polygon_centroid(rings) -> tuple[float, float]:
    x, y, _ = _polygon_centroid_w(rings)
    return x, y


def _weighted(kids, fn) -> tuple[float, float]:
    cx = cy = w = 0.0
    for _, payload in kids:
        x, y, kw = fn(payload)
        cx += x * kw
        cy += y * kw
        w += kw
    if w == 0.0:
        return centroid(kids[0])
    return cx / w, cy / w


# --------------------------------------------------------------------------
# GeoJSON geometry object → Geom (RFC 7946; Z/M dropped to 2D like decode)
# --------------------------------------------------------------------------
def from_geojson(obj: dict) -> Geom:
    """Build a Geom from a parsed GeoJSON geometry object — the reader-side
    normalization the reference gets from GDAL st_read
    (geo_strategy.rs:283-291 normalizes every geometry to 2D WKT)."""
    t = obj["type"]
    if t == "Point":
        c = obj["coordinates"]
        return ("Point", (float(c[0]), float(c[1])))
    if t == "LineString":
        return ("LineString", [(float(x), float(y)) for x, y, *_ in obj["coordinates"]])
    if t == "Polygon":
        return (
            "Polygon",
            [[(float(x), float(y)) for x, y, *_ in ring] for ring in obj["coordinates"]],
        )
    if t == "MultiPoint":
        return (
            "MultiPoint",
            [("Point", (float(c[0]), float(c[1]))) for c in obj["coordinates"]],
        )
    if t == "MultiLineString":
        return (
            "MultiLineString",
            [
                ("LineString", [(float(x), float(y)) for x, y, *_ in line])
                for line in obj["coordinates"]
            ],
        )
    if t == "MultiPolygon":
        return (
            "MultiPolygon",
            [
                (
                    "Polygon",
                    [[(float(x), float(y)) for x, y, *_ in ring] for ring in poly],
                )
                for poly in obj["coordinates"]
            ],
        )
    if t == "GeometryCollection":
        return ("GeometryCollection", [from_geojson(g) for g in obj["geometries"]])
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


# --------------------------------------------------------------------------
# coordinate transform + WKT encode
# --------------------------------------------------------------------------
def transform_geom(g: Geom, fn) -> Geom:
    """Apply ``fn(x, y) -> (x', y')`` to every coordinate (ST_Transform)."""
    kind, payload = g
    if kind == "Point":
        return (kind, fn(*payload))
    if kind == "LineString":
        return (kind, [fn(*p) for p in payload])
    if kind == "Polygon":
        return (kind, [[fn(*p) for p in ring] for ring in payload])
    return (kind, [transform_geom(k, fn) for k in payload])


def _fmt(v: float) -> str:
    # shortest round-trip repr, NOT %g: %g keeps only 6 significant digits,
    # which shifts a lon like 121.123456 by ~40 m on the way to the PostGIS
    # sink (ST_AsText keeps full double precision)
    if not math.isfinite(v):
        raise ValueError(f"non-finite coordinate {v!r} in geometry")
    return str(int(v)) if v == int(v) else repr(v)


def to_wkt(g: Geom) -> str:
    """Canonical 2D WKT (the ST_AsText(ST_Force2D(..)) interchange form).
    A kind with no members prints ``<KIND> EMPTY``, as ST_AsText does; an
    empty point (NaN NaN) raises like any non-finite coordinate."""
    kind, payload = g
    if kind == "Point":
        return f"POINT ({_fmt(payload[0])} {_fmt(payload[1])})"
    if not payload:
        return f"{kind.upper()} EMPTY"
    if kind == "LineString":
        return f"LINESTRING {_coords_wkt(payload)}"
    if kind == "Polygon":
        return f"POLYGON {_rings_wkt(payload)}"
    if kind == "MultiPoint":
        inner = ", ".join(_coords_wkt([p[1]])[1:-1] for p in payload)
        return f"MULTIPOINT ({inner})"
    if kind == "MultiLineString":
        inner = ", ".join(_coords_wkt(p[1]) for p in payload)
        return f"MULTILINESTRING ({inner})"
    if kind == "MultiPolygon":
        inner = ", ".join(_rings_wkt(p[1]) for p in payload)
        return f"MULTIPOLYGON ({inner})"
    inner = ", ".join(to_wkt(k) for k in payload)
    return f"GEOMETRYCOLLECTION ({inner})"


def _coords_wkt(coords) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in coords) + ")"


def _rings_wkt(rings) -> str:
    return "(" + ", ".join(_coords_wkt(r) for r in rings) + ")"


# --------------------------------------------------------------------------
# WKT decode (the inverse of to_wkt; ST_GeomFromText)
# --------------------------------------------------------------------------
_WKT_TOKEN = re.compile(r"\s*([A-Za-z]+|[-+0-9.][-+0-9.eE]*|[(),])")
_WKT_KINDS = {k.upper(): k for k in _KINDS.values()}


def from_wkt(text: str) -> Geom:
    """Parse WKT of the seven standard types — what ``to_wkt`` emits —
    back into a Geom.  Tags are case-insensitive, an EWKT ``SRID=n;``
    prefix is skipped, and Z/M ordinates (``POINT Z (1 2 3)``,
    ``POINTZ (1 2 3)``) are dropped to 2D like ``wkb_decode``; MULTIPOINT
    members may be bare or parenthesized; ``<KIND> EMPTY`` is the kind
    with no members.  Raises ``ValueError`` on anything else (``POINT
    EMPTY`` included)."""
    body = re.sub(r"^\s*SRID=\d+;", "", text, flags=re.IGNORECASE)
    toks, pos = [], 0
    while pos < len(body.rstrip()):
        m = _WKT_TOKEN.match(body, pos)
        if m is None:
            raise ValueError(f"bad WKT near {body[pos:pos + 20]!r}")
        toks.append(m.group(1))
        pos = m.end()
    toks.reverse()  # pop() from the end

    def take(want: str | None = None) -> str:
        if not toks:
            raise ValueError("truncated WKT")
        tok = toks.pop()
        if want is not None and tok != want:
            raise ValueError(f"expected {want!r} in WKT, got {tok!r}")
        return tok

    def listed(item) -> list:
        take("(")
        out = [item()]
        while (sep := take()) == ",":
            out.append(item())
        if sep != ")":
            raise ValueError(f"expected ',' or ')' in WKT, got {sep!r}")
        return out

    def coord() -> tuple[float, float]:
        vals = []
        while toks and toks[-1] not in ("(", ")", ","):
            vals.append(float(take()))
        if not 2 <= len(vals) <= 4:
            raise ValueError(f"WKT coordinate with {len(vals)} ordinates")
        return (vals[0], vals[1])

    def coords() -> list[tuple[float, float]]:
        return listed(coord)

    def rings() -> list[list[tuple[float, float]]]:
        return listed(coords)

    def point() -> tuple[float, float]:
        take("(")
        pt = coord()
        take(")")
        return pt

    def member_point() -> Geom:
        return ("Point", point() if toks[-1:] == ["("] else coord())

    def geom() -> Geom:
        # the dimension tag may be fused (POINTZ) or separate (POINT Z)
        tag = re.fullmatch(r"([A-Z]+?)(ZM|Z|M)?", take().upper())
        kind = _WKT_KINDS.get(tag.group(1)) if tag else None
        if kind is None:
            raise ValueError(f"unsupported WKT geometry in {text[:40]!r}")
        if toks and toks[-1].upper() in ("Z", "M", "ZM"):
            take()
        if kind != "Point" and toks and toks[-1].upper() == "EMPTY":
            take()
            return (kind, [])
        if kind == "Point":
            return (kind, point())
        if kind == "LineString":
            return (kind, coords())
        if kind == "Polygon":
            return (kind, rings())
        if kind == "MultiPoint":
            return (kind, listed(member_point))
        if kind == "MultiLineString":
            return (kind, [("LineString", c) for c in listed(coords)])
        if kind == "MultiPolygon":
            return (kind, [("Polygon", r) for r in listed(rings)])
        return (kind, listed(geom))

    g = geom()
    if toks:
        raise ValueError(f"trailing text after WKT geometry in {text[:40]!r}")
    return g
