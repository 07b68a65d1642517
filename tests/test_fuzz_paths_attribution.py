"""Fuzz family 39: attribution, path mining, fixed-point PageRank.

* ``events_attribution_last_touch``: the as-of tie surface (same-instant
  touchpoints ARE admitted, equal-ts touches break to highest event_id)
  plus channel-edge cases — users with purchases but zero touchpoints
  (must land in 'direct'), all-purchase users, NULL purchase values
  (counted in n_conversions, skipped by the DECIMAL sum), NULL ts.
* ``events_top_paths``: session boundaries exactly at the 30-minute gap
  (> is the rule, not >=), sessions shorter than 3 events (no triple),
  duplicate-timestamp runs inside a session (path order pinned by
  event_id), and top-k ties broken by path string.
* ``graph_pagerank_bipartite``: random bipartite trade graphs —
  multi-edge orders collapsing to one distinct pair, degree-1 pendants,
  hub suppliers, and rank ties (symmetric nodes) broken by node label —
  each recomputed through the oracle's two unrolled CTE iterations
  (bit-identical fixed-point integers, never approximately-equal).

40 seeds per operator over real parquet, row-for-row against the
registered DuckDB oracles.
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

_T0 = dt.datetime(2024, 6, 1, 0, 0, 0)
_TYPES = ["view", "click", "purchase", "signup", "error"]


def _write_events(seed: int, path) -> None:
    rng = random.Random(39000 + seed)
    n_users = rng.randint(2, 12)
    rows = []
    eid = 1
    for u in range(1, n_users + 1):
        shape = rng.choice(
            ["normal", "all_purchase", "no_purchase", "tie_heavy", "gap_exact"]
        )
        n_ev = rng.randint(1, 12)
        t = rng.randint(0, 10000)
        for _ in range(n_ev):
            if shape == "gap_exact" and rng.random() < 0.5:
                t += 30 * 60  # exactly the session gap: NOT a new session (>)
            else:
                t += rng.choice([1, 10, 600, 30 * 60 + 1, 7200])
            if shape == "all_purchase":
                et = "purchase"
            elif shape == "no_purchase":
                et = rng.choice(["view", "click", "signup", "error"])
            else:
                et = rng.choice(_TYPES)
            ts = None if rng.random() < 0.05 else _T0 + dt.timedelta(seconds=t)
            val = None if rng.random() < 0.2 else round(rng.uniform(0, 100), 2)
            rows.append((eid, ts, u, et, val))
            eid += 1
            if shape == "tie_heavy" and ts is not None and rng.random() < 0.5:
                # same-instant run: attribution tie (highest event_id wins)
                # and path order (event_id ascending) both exercised
                rows.append(
                    (eid, ts, u, rng.choice(_TYPES), round(rng.uniform(0, 9), 2))
                )
                eid += 1
    rng.shuffle(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        path / "events.parquet",
    )


def _write_trade(seed: int, path) -> None:
    rng = random.Random(39500 + seed)
    n_cust = rng.randint(2, 15)
    n_supp = rng.randint(2, 10)
    orders, lines = [], []
    for ok in range(1, rng.randint(3, 40)):
        cust = rng.randrange(n_cust)
        orders.append((ok, cust, _T0, 100.0))
        for _ in range(rng.randint(1, 4)):
            # repeated (cust, supp) pairs across orders must collapse to
            # ONE distinct edge; hub suppliers (supp 0 weighted) test skew
            supp = 0 if rng.random() < 0.3 else rng.randrange(n_supp)
            lines.append((ok, supp))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([o[0] for o in orders], pa.int64()),
                "o_custkey": pa.array([o[1] for o in orders], pa.int64()),
                "o_orderdate": pa.array([o[2] for o in orders], pa.timestamp("us")),
                "o_totalprice": pa.array([o[3] for o in orders], pa.float64()),
            }
        ),
        path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([line[0] for line in lines], pa.int64()),
                "l_suppkey": pa.array([line[1] for line in lines], pa.int64()),
            }
        ),
        path / "lineitem.parquet",
    )


def _compare(spark, path, name: str, seed, tables) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')"
        )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", range(40))
def test_attribution_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_attribution_last_touch", seed, ["events"])


@pytest.mark.parametrize("seed", range(40))
def test_top_paths_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_top_paths", seed, ["events"])


@pytest.mark.parametrize("seed", range(40))
def test_pagerank_matches_oracle(spark, tmp_path, seed):
    _write_trade(seed, tmp_path)
    _compare(
        spark, tmp_path, "graph_pagerank_bipartite", seed, ["orders", "lineitem"]
    )


def test_attribution_no_touchpoints_all_direct(spark, tmp_path):
    """Purchases with zero prior non-purchase events: every conversion
    lands in 'direct' and the DECIMAL revenue sum equals the plain sum."""
    rows = [
        (i, _T0 + dt.timedelta(seconds=i), 1, "purchase", 10.0)
        for i in range(1, 6)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    out = registry.QUERIES["events_attribution_last_touch"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["channel"] == "direct"
    assert out[0]["n_conversions"] == 5
    assert out[0]["revenue"] == 50.0


@pytest.mark.parametrize("seed", range(40))
def test_asof_tolerance_matches_oracle(spark, tmp_path, seed):
    """join_asof_tolerance rides the SAME family-39 corpora: the error/
    click split plus the tie/NULL cases exercise the tolerance arbiter
    — in particular out-of-tolerance nearest matches that must NOT fall
    back to an older in-tolerance click."""
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "join_asof_tolerance", seed, ["events"])
