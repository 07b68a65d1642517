"""Pin the BNG→WGS84 array kernel to its independent DuckDB replay.

geo_transform_27700_to_4326's registered inputs are p_partkey lattices
(easting = 400000 + (k % 4000)·50, northing = 100000 + (k % 10000)·100),
so the query's possible input domain is EXACTLY the 20000 pairs indexed
by k % 20000 — at every scale factor.  The test reprojects that entire
domain with the kernel (functions.geo.bng_to_wgs84) and compares it with
the query's oracle, ``_bng_sql_oracle()`` run in DuckDB over a ``part``
view of range(20000), after the query's ROUND(·, 6).  The kernel is the
only Python implementation of the transform; the oracle is the same math
written as SQL and evaluated by another engine.
"""

import duckdb
import numpy as np

from duckdb_postgis_spark.functions.geo import bng_to_wgs84, transform_xy
from duckdb_postgis_spark.operators.geo import _bng_sql_oracle

_DOMAIN = 20000


def test_kernel_matches_sql_oracle_after_round():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT range AS p_partkey FROM range({_DOMAIN})")
    rows = con.execute(_bng_sql_oracle()).fetchall()
    assert len(rows) == _DOMAIN
    _, E, N, lon_o, lat_o = (np.array(c) for c in zip(*rows))
    lon, lat = bng_to_wgs84(E, N)
    got = [(round(a, 6), round(b, 6)) for a, b in zip(lon.tolist(), lat.tolist())]
    bad = [
        (e, n) for e, n, g, o in zip(E, N, got, zip(lon_o, lat_o)) if g != tuple(o)
    ]
    assert bad == [], bad[:5]


def test_vec_handles_scalar_and_empty():
    """A scalar call returns Python floats equal to the same point inside
    a batch; an empty batch returns empty arrays."""
    E = np.array([431613.0, 651409.903, 538890.0])
    N = np.array([287794.0, 313177.270, 177320.0])
    lon, lat = transform_xy(E, N, "27700")
    for i in range(E.size):
        one = transform_xy(float(E[i]), float(N[i]), "27700")
        assert all(type(v) is float for v in one)
        assert one == (float(lon[i]), float(lat[i]))
    lon0, lat0 = bng_to_wgs84(np.array([]), np.array([]))
    assert lon0.size == 0 and lat0.size == 0
