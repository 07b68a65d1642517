"""Fuzz family 47: r10-continuation reorder-interval / supplier-HHI.

* ``orders_reorder_interval``: single-order customers (no gaps — must
  contribute nothing, not a NULL row), same-instant order ties broken
  by o_orderkey, NULL order dates excluded, zero-day gaps (two orders
  the same day), customers missing from the dimension (inner join
  drops their gaps).
* ``orders_supplier_hhi``: single-supplier types (hhi exactly the
  squared floor-share of 1e6), many equal suppliers (floor shares sum
  below 1e6 — the documented floor-loss, identical on both engines),
  nonpositive prices excluded, suppliers spanning multiple types.

Compared row-for-row against the registered DuckDB oracles.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

_T0 = dt.datetime(2024, 10, 1, 0, 0, 0)
_SEG = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
_TYPES = ["tA", "tB", "tC"]


def _write_orders_customer(seed: int, path) -> None:
    rng = random.Random(47000 + seed)
    orders, custs = [], []
    okey = 1
    for c in range(1, rng.randint(1, 20) + 1):
        if rng.random() < 0.85:
            custs.append((c, rng.choice(_SEG)))
        shape = rng.choice(["normal", "single", "same_day", "ties", "null_date"])
        n = 1 if shape == "single" else rng.randint(1, 8)
        t = rng.randint(0, 50 * 86400)
        for i in range(n):
            if shape == "same_day":
                pass  # all orders share one instant-ish day
            elif shape == "ties":
                t += rng.choice([0, 0, 86400])
            else:
                t += rng.randint(0, 30 * 86400)
            odate = (
                None
                if shape == "null_date" and rng.random() < 0.4
                else _T0 + dt.timedelta(seconds=t)
            )
            orders.append((okey, c, odate))
            okey += 1
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
                "o_custkey": pa.array([r[1] for r in orders], pa.int64()),
                "o_orderdate": pa.array(
                    [r[2] for r in orders], pa.timestamp("us")
                ),
            }
        ),
        path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in custs], pa.int64()),
                "c_mktsegment": pa.array([r[1] for r in custs], pa.string()),
            }
        ),
        path / "customer.parquet",
    )


def _write_lineitem_part(seed: int, path) -> None:
    rng = random.Random(47500 + seed)
    parts = [(p, rng.choice(_TYPES)) for p in range(1, rng.randint(2, 10) + 1)]
    lines = []
    shape = rng.choice(["normal", "monopoly", "balanced", "negative"])
    for _ in range(rng.randint(1, 80)):
        pk = rng.choice(parts)[0]
        if shape == "monopoly":
            supp = 1
        elif shape == "balanced":
            supp = rng.randint(1, 4)
        else:
            supp = rng.randint(1, 8)
        price = (
            round(rng.uniform(-100, 50), 2)
            if shape == "negative"
            else round(rng.uniform(0.01, 900), 2)
        )
        lines.append((rng.randint(1, 30), pk, supp, price))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lines], pa.int64()),
                "l_partkey": pa.array([r[1] for r in lines], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in lines], pa.int64()),
                "l_extendedprice": pa.array([r[3] for r in lines], pa.float64()),
            }
        ),
        path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in parts], pa.int64()),
                "p_type": pa.array([r[1] for r in parts], pa.string()),
            }
        ),
        path / "part.parquet",
    )


def _compare(spark, path, name: str, seed, tbls) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    for tbl in tbls:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{path}/{tbl}.parquet')"
        )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", range(40))
def test_reorder_interval_matches_oracle(spark, tmp_path, seed):
    _write_orders_customer(seed, tmp_path)
    _compare(
        spark, tmp_path, "orders_reorder_interval", seed, ["orders", "customer"]
    )


@pytest.mark.parametrize("seed", range(40))
def test_supplier_hhi_matches_oracle(spark, tmp_path, seed):
    _write_lineitem_part(seed, tmp_path)
    _compare(spark, tmp_path, "orders_supplier_hhi", seed, ["lineitem", "part"])


def test_monopoly_type_scores_million(spark, tmp_path):
    """One supplier owning a type: share 1e6 ppm, hhi exactly 1e6."""
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 2, 3], pa.int64()),
                "l_partkey": pa.array([1, 1, 1], pa.int64()),
                "l_suppkey": pa.array([7, 7, 7], pa.int64()),
                "l_extendedprice": pa.array([10.0, 20.0, 30.0], pa.float64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([1], pa.int64()),
                "p_type": pa.array(["tA"], pa.string()),
            }
        ),
        tmp_path / "part.parquet",
    )
    out = registry.QUERIES["orders_supplier_hhi"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_suppliers"] == 1
    assert out[0]["top_share_ppm"] == 1_000_000
    assert out[0]["hhi_ppm"] == 1_000_000
