"""Fuzz family 33: FORWARD as-of join, differential on random corpora.

join_asof_forward's union-merge rewrite has three cross-engine agreement
points — the >= boundary (an event at EXACTLY the order's timestamp must
match), the tie rule at equal event timestamps (lowest event_id wins),
and NULL handling (NULL event ts never matches; orders with no at-or-
after event emit NULL columns, not disappear).  40 seeded random corpora
exercise each: planted exact-boundary events, duplicate-timestamp event
runs, users with orders but zero events, all-NULL-value event sets, and
NULL event timestamps.  Real parquet (the catalog's events-ts footer
probe runs), compared row-for-row against the registered DuckDB oracle —
the same harness the driver uses (judge r10 order #4).
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

SEEDS = range(40)
_T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _write_corpus(seed: int, path) -> None:
    rng = random.Random(33000 + seed)
    n_users = rng.randint(3, 12)
    orders, events = [], []
    okey, eid = 1, 1
    for u in range(1, n_users + 1):
        shape = rng.choice(["normal", "no_events", "null_values", "tie_heavy"])
        u_orders = [
            _T0 + dt.timedelta(seconds=rng.randint(0, 5000))
            for _ in range(rng.randint(0, 6))
        ]
        for od in u_orders:
            orders.append((okey, u, od))
            okey += 1
        if shape == "no_events":
            continue
        n_ev = rng.randint(1, 8)
        for _ in range(n_ev):
            if rng.random() < 0.15 and u_orders:
                ts = rng.choice(u_orders)  # exact >= boundary hit
            elif rng.random() < 0.1:
                ts = None  # NULL ts: must never match
            else:
                ts = _T0 + dt.timedelta(seconds=rng.randint(0, 5000))
            val = None if shape == "null_values" or rng.random() < 0.1 else round(
                rng.uniform(-100, 100), 3
            )
            events.append((eid, ts, u, val))
            eid += 1
            if shape == "tie_heavy" and ts is not None and rng.random() < 0.6:
                # duplicate-timestamp run: the tie must break to LOWEST id
                for _ in range(rng.randint(1, 3)):
                    events.append((eid, ts, u, round(rng.uniform(-100, 100), 3)))
                    eid += 1
    rng.shuffle(orders)
    rng.shuffle(events)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
                "o_orderdate": pa.array(
                    [o[2] for o in orders], pa.timestamp("us")
                ),
            }
        ),
        path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e[0] for e in events], pa.int64()),
                "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
                "user_id": pa.array([e[2] for e in events], pa.int64()),
                "value": pa.array([e[3] for e in events], pa.float64()),
            }
        ),
        path / "events.parquet",
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_asof_forward_spark_matches_oracle(spark, tmp_path, seed):
    _write_corpus(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["join_asof_forward"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    for t in ("orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["join_asof_forward"]).fetchall()
    )
    assert got == want, f"seed {seed}: forward as-of rows diverge"


def test_asof_forward_empty_events(spark, tmp_path):
    """Zero events at all: every order must still emit one row with NULL
    next_event columns (LEFT semantics), matching the oracle."""
    rng = random.Random(33999)
    orders = [(k, rng.randint(1, 3), _T0) for k in range(1, 8)]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
                "o_orderdate": pa.array([o[2] for o in orders], pa.timestamp("us")),
            }
        ),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "value": pa.array([], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    out = registry.QUERIES["join_asof_forward"](spark, str(tmp_path)).collect()
    assert len(out) == 7
    assert all(r["next_event_ts"] is None for r in out)


@pytest.mark.parametrize("seed", SEEDS)
def test_asof_nearest_spark_matches_oracle(spark, tmp_path, seed):
    """join_asof_nearest rides the SAME family-33 corpora: the nearest
    arbiter adds two new agreement points — equal-absolute-distance ties
    (backward must win) and the backward/forward direction tag — on top
    of the boundary/tie/NULL cases the generator already plants."""
    _write_corpus(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["join_asof_nearest"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    for t in ("orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["join_asof_nearest"]).fetchall()
    )
    assert got == want, f"seed {seed}: nearest as-of rows diverge"


def test_asof_nearest_equidistant_tie_prefers_backward(spark, tmp_path):
    """One order with two events exactly D seconds before and after it:
    the arbiter must pick the BACKWARD one and tag it so."""
    od = _T0 + dt.timedelta(seconds=1000)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1], pa.int64()),
                "o_custkey": pa.array([5], pa.int64()),
                "o_orderdate": pa.array([od], pa.timestamp("us")),
            }
        ),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([10, 11], pa.int64()),
                "ts": pa.array(
                    [od - dt.timedelta(seconds=30), od + dt.timedelta(seconds=30)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([5, 5], pa.int64()),
                "value": pa.array([1.5, 2.5], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    rows = registry.QUERIES["join_asof_nearest"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["direction"] == "backward"
    assert rows[0]["nearest_event_value"] == 1.5
