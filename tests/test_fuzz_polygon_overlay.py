"""Fuzz family 55: polygon-polygon ST_Intersects overlay, differential.

geo_polygon_intersects_join's contract is that the grid-cell prefilter,
the orientation-sign segment-intersection verify, and the anchor-vertex
ray parity are computed IDENTICALLY by the Spark plan and the DuckDB
oracle — all in exact integer arithmetic (the only float ops are
comparisons of integer-valued doubles).  40 seeded pairs of random
integer-vertex star polygons run the factored core
(_polygon_intersects_pairs) against the templated oracle
(_polygon_overlay_oracle_sql) on the same edge sets and require exact
row-set equality; an independent pure-Python brute-force (NO grid — all
pairs) additionally pins that the grid prefilter never DROPS a truly
intersecting pair, i.e. candidate recall is 100% by construction (two
overlapping bbox intervals always share a floor(x/45) cell).

The directed relation-class shapes (crossing, nesting with zero edge
hits, shared collinear edge, vertex touch, bbox-overlap-but-disjoint,
full disjoint) are pinned in tests/test_geo_polygon_overlay.py against
hand-verified expectations.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from duckdb_postgis_spark.operators import geo

pytestmark = pytest.mark.seeded("seed")

SEEDS = range(40)


def _star_polygon(rng: random.Random, cx: int, cy: int, rmax: int):
    import math

    n = rng.randint(3, 8)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    pts = []
    for a in angles:
        r = rng.uniform(rmax * 0.3, rmax)
        p = (cx + int(round(r * math.cos(a))), cy + int(round(r * math.sin(a))))
        if not pts or p != pts[-1]:
            pts.append(p)
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts.pop()
    return pts if len(pts) >= 3 else None


def _polygon_sets(seed: int):
    rng = random.Random(55000 + seed)
    sets = []
    for base_id in (1, 101):
        polys = {}
        for k in range(rng.randint(2, 6)):
            ring = None
            while ring is None:
                ring = _star_polygon(
                    rng,
                    rng.randint(-140, 140),
                    rng.randint(-70, 70),
                    rng.choice([5, 15, 40, 90]),
                )
            polys[base_id + k] = ring
        sets.append(polys)
    return sets


def _edges(polys):
    return [
        (pid, v[i][0], v[i][1], v[(i + 1) % len(v)][0], v[(i + 1) % len(v)][1])
        for pid, v in polys.items()
        for i in range(len(v))
    ]


# -- independent pure-Python reference (all pairs, no grid) ----------------
def _orient(p, q, r):
    return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])


def _onseg(a, b, c):
    return min(a[0], b[0]) <= c[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= c[
        1
    ] <= max(a[1], b[1])


def _seg_int(p, q, r, s):
    d1, d2 = _orient(r, s, p), _orient(r, s, q)
    d3, d4 = _orient(p, q, r), _orient(p, q, s)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True
    return (
        (d1 == 0 and _onseg(r, s, p))
        or (d2 == 0 and _onseg(r, s, q))
        or (d3 == 0 and _onseg(p, q, r))
        or (d4 == 0 and _onseg(p, q, s))
    )


def _ring_edges(v):
    return [(v[i], v[(i + 1) % len(v)]) for i in range(len(v))]


def _point_in(pt, ring):
    px, py = pt
    c = 0
    for (x1, y1), (x2, y2) in _ring_edges(ring):
        if (y1 > py) != (y2 > py):
            t = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
            if (t > 0) == (y2 > y1):
                c += 1
    return c % 2 == 1


def _py_intersecting_pairs(pa, pb):
    out = set()
    for pid, ra in pa.items():
        for qid, rb in pb.items():
            hits = any(
                _seg_int(e1[0], e1[1], e2[0], e2[1])
                for e1 in _ring_edges(ra)
                for e2 in _ring_edges(rb)
            )
            if hits or _point_in(min(ra), rb) or _point_in(min(rb), ra):
                out.add((pid, qid))
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_polygon_overlay_matches_oracle(spark, seed):
    pa, pb = _polygon_sets(seed)
    ea_rows, eb_rows = _edges(pa), _edges(pb)
    ea = spark.createDataFrame(
        [(p, float(a), float(b), float(c), float(d)) for p, a, b, c, d in ea_rows],
        "pid INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )
    eb = spark.createDataFrame(
        [(q, float(a), float(b), float(c), float(d)) for q, a, b, c, d in eb_rows],
        "qid INT, u1 DOUBLE, v1 DOUBLE, u2 DOUBLE, v2 DOUBLE",
    )
    got_rows = geo._polygon_intersects_pairs(ea, eb).collect()
    got = sorted(tuple(map(str, r)) for r in got_rows)
    ea_sql = ", ".join(f"({p}, {a}.0, {b}.0, {c}.0, {d}.0)" for p, a, b, c, d in ea_rows)
    eb_sql = ", ".join(f"({q}, {a}.0, {b}.0, {c}.0, {d}.0)" for q, a, b, c, d in eb_rows)
    want = sorted(
        tuple(map(str, r))
        for r in duckdb.connect()
        .execute(geo._polygon_overlay_oracle_sql(ea_sql, eb_sql))
        .fetchall()
    )
    assert got == want, f"seed {seed}: spark {len(got)} vs oracle {len(want)}"
    # grid-prefilter completeness: the no-grid brute force finds no pair
    # the engines missed (and the engines emit exactly the brute-force
    # set — the grid only ever ADDS candidates, verify rejects them)
    engine_pairs = {(r["pid"], r["qid"]) for r in got_rows}
    assert engine_pairs == _py_intersecting_pairs(pa, pb), f"seed {seed}"
