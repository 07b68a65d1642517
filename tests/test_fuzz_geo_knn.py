"""Fuzz family 25: geo_knn_join grid-path exactness certificate.

The r8 grid ring join claims VALUE-EQUALITY with the broadcast attach via
a per-customer spherical certificate (safe-radius lower bound + escape to
the attach).  The fixed synthetic coords cover the globe uniformly; these
seeds attack the certificate where it is most likely to be wrong —
clusters hugging the poles (trans-polar nearest neighbors), the
antimeridian (lon wrap), cell edges (margin ≈ 0), and sparse supplier
sets (few candidates per ring, forcing escapes) — and require the grid
path to return byte-identical rows to the broadcast attach on every
corpus.  25 seeds, both frames built from the same draw.
"""

from __future__ import annotations

import random

import pytest

pytestmark = pytest.mark.seeded("seed")


def _corpus(seed: int):
    rng = random.Random(8000 + seed)
    mode = rng.choice(["uniform", "polar", "antimeridian", "cell_edges", "sparse"])
    n_c = rng.randint(80, 300)
    n_s = rng.randint(8, 80) if mode != "sparse" else rng.randint(4, 12)

    def draw(i):
        if mode == "polar":
            lat = rng.choice([1, -1]) * (80.0 + rng.random() * 9.9)
            lon = rng.uniform(-180.0, 179.99)
        elif mode == "antimeridian":
            lon = rng.choice([1, -1]) * (170.0 + rng.random() * 9.99)
            lat = rng.uniform(-89.9, 89.9)
        elif mode == "cell_edges":
            # points within 0.01 deg of a 10-degree grid line: margin ~ 0
            lon = rng.randrange(-18, 18) * 10.0 + rng.choice([0.005, 9.995])
            lat = rng.randrange(-9, 9) * 10.0 + rng.choice([0.005, 9.995])
        else:
            lon = rng.uniform(-180.0, 179.99)
            lat = rng.uniform(-89.9, 89.9)
        return lon, lat

    cust = [(i, *draw(i)) for i in range(n_c)]
    supp = [(j, *draw(1000 + j)) for j in range(n_s)]
    return mode, cust, supp


@pytest.mark.parametrize("seed", range(25))
def test_grid_knn_equals_broadcast_on_adversarial_geometry(spark, seed):
    from duckdb_postgis_spark.operators import geo

    mode, cust_rows, supp_rows = _corpus(seed)
    cust = spark.createDataFrame(
        cust_rows, "c_custkey bigint, lon double, lat double"
    )
    supp = spark.createDataFrame(
        supp_rows, "s_suppkey bigint, slon double, slat double"
    )
    b = geo._geo_knn_attach(cust, supp).orderBy("c_custkey", "rk").collect()
    g = geo._geo_knn_grid(cust, supp).orderBy("c_custkey", "rk").collect()
    assert len(b) > 0
    assert b == g, f"seed {seed} ({mode}): grid path diverged from attach"
