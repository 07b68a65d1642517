"""Fuzz family 53: r12 polygon predicates (ray-cast containment + shoelace).

``geo_point_in_polygon`` ray-casts synthetic customer points against the
fixed polygon rings; seeds vary the customer key population (dense runs,
sparse random draws, keys far beyond 360 so the lon/lat wrap cycles many
times, tiny 1-row tables) — every membership decision is re-derived by
the DuckDB oracle from the same keys, so a crossing-rule divergence on
ANY point is a row diff.  ``geo_polygon_area`` rides along (constant
w.r.t. the data; the compare pins the exact shoelace/centroid doubles
cross-engine).

Directed pins: hand-placed points inside / outside / in the L-shape's
notch (re-entrant ring) verify the parity rule against geometry a human
can check.
"""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)


def _write_customers(keys, path) -> None:
    pq.write_table(
        pa.table({"c_custkey": pa.array(sorted(keys), pa.int64())}),
        path / "customer.parquet",
    )


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{path}/customer.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} diverges"


@pytest.mark.parametrize("seed", SEEDS)
def test_polygon_ops_match_oracle(spark, tmp_path, seed):
    rng = random.Random(53000 + seed)
    mode = rng.choice(["dense", "sparse", "huge_keys", "tiny"])
    if mode == "dense":
        keys = range(rng.randint(100, 2000))
    elif mode == "sparse":
        keys = {rng.randint(0, 10**6) for _ in range(rng.randint(1, 300))}
    elif mode == "huge_keys":
        keys = {rng.randint(10**9, 10**12) for _ in range(rng.randint(1, 200))}
    else:
        keys = {rng.randint(0, 360)}
    _write_customers(keys, tmp_path)
    _compare(spark, tmp_path, "geo_point_in_polygon", seed)
    if seed % 8 == 0:  # constant-result rider
        _compare(spark, tmp_path, "geo_polygon_area", seed)


def test_ray_cast_geometry_directed(spark, tmp_path):
    """Hand-checkable memberships.  Customer key -> point mapping:
    lon = key%360 - 179.5, lat = key%180 - 89.5.
      key 100 -> (-79.5, 10.5): inside P1's notch REGION? P1's ring is
        the hexagon (-150,-60)..(-150,38) whose east boundary steps in
        at x=-100 above y=-20 — so (-79.5, 10.5) is OUTSIDE (east of the
        notch) while (-75.5, 14.5)=key 104... also outside; key 60 ->
        (-119.5, -29.5) IS inside the deep west part.
      key 245 -> (65.5, -24.5): inside P2's pentagon.
    The oracle re-derives all of this; the point here is a human-visible
    spot check of the parity rule on a re-entrant ring."""
    _write_customers([60, 100, 245], tmp_path)
    out = {
        r["pid"]: (r["n_inside"], r["sum_inside_keys"])
        for r in registry.QUERIES["geo_point_in_polygon"](
            spark, str(tmp_path)
        ).collect()
    }
    # key 60 in the L-shape's west limb; key 100 east of the notch: out
    assert out[1] == (1, 60), out
    # key 245 inside the pentagon
    assert out[2] == (1, 245), out
    _compare(spark, tmp_path, "geo_point_in_polygon", "directed")
