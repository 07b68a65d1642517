"""Fuzz family 40: r10-continuation lakehouse/stats/markov operators.

One generator, three consumers, each with a distinct cross-engine
agreement surface:

* ``lakehouse_cdc_apply``: the FINAL-op-per-key rule under adversarial
  changelogs — same-instant change ties (row_number tie-break by
  event_id DESC must agree), NULL change timestamps (both engines place
  NULLs last under DESC, pinned here), keys whose last op is a delete
  (must vanish), changelog keys absent from the base (fresh inserts,
  NULL base_bal), and empty changelogs (pure base passthrough).
* ``maintenance_column_stats``: planted NULLs per column (null counts),
  heavy duplicates (exact NDV), negative extremes (min/max), and the
  EMPTY table (stack must still emit one row per column with zero
  counts and NULL min/max on both engines).
* ``events_markov_transitions``: session boundaries at EXACTLY the
  30-minute gap (> is strict on both sides), same-instant event ties
  ordered by (ts, event_id), single-event sessions (no transitions),
  one-type corpora (pure self-transitions, prob_ppm == 1_000_000).

40 seeded corpora over real parquet, compared row-for-row against the
registered DuckDB oracles — the same harness the driver uses.
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
_T0 = dt.datetime(2024, 5, 1, 0, 0, 0)
_TYPES = ["view", "click", "purchase", "signup", "error"]


def _write_events(rng: random.Random, path) -> None:
    n_users = rng.randint(1, 12)
    n_types = rng.randint(1, 5)
    types = _TYPES[:n_types]
    rows = []
    eid = 1
    for u in range(1, n_users + 1):
        shape = rng.choice(
            ["normal", "single", "tie_heavy", "exact_gap", "null_ts", "delete_last"]
        )
        n_ev = 1 if shape == "single" else rng.randint(1, 12)
        t = rng.randint(0, 86400)
        for i in range(n_ev):
            if shape == "exact_gap" and i > 0:
                # land exactly ON the 30-minute boundary half the time:
                # gap == 1800s must NOT open a session on either engine
                t += 1800 if rng.random() < 0.5 else rng.randint(1, 5000)
            else:
                t += rng.randint(0, 4000)
            ts = None if (shape == "null_ts" and rng.random() < 0.4) else (
                _T0 + dt.timedelta(seconds=t)
            )
            et = rng.choice(types)
            if shape == "delete_last" and i == n_ev - 1:
                et = "error"  # final op is a delete: key must vanish
            val = None if rng.random() < 0.15 else round(rng.uniform(-99, 99), 2)
            rows.append((eid, ts, u, et, val))
            eid += 1
            if shape == "tie_heavy" and ts is not None and rng.random() < 0.5:
                # same-instant change tie: event_id DESC breaks it
                rows.append((eid, ts, u, rng.choice(types), 1.0))
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


def _write_customer(rng: random.Random, path) -> None:
    # keys 1..8 overlap the changelog's user range; 100+ never change;
    # changelog users ABOVE n_keys become fresh inserts
    n_keys = rng.randint(0, 8)
    keys = list(range(1, n_keys + 1)) + [100 + i for i in range(rng.randint(0, 3))]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_acctbal": pa.array(
                    [
                        None if rng.random() < 0.2 else round(rng.uniform(0, 999), 2)
                        for _ in keys
                    ],
                    pa.float64(),
                ),
            }
        ),
        path / "customer.parquet",
    )


_LI_COLS = [
    ("l_orderkey", pa.int64()),
    ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()),
    ("l_tax", pa.float64()),
]


def _write_lineitem(rng: random.Random, path, empty: bool = False) -> None:
    n = 0 if empty else rng.randint(1, 60)
    cols = {}
    for name, typ in _LI_COLS:
        vals = []
        for _ in range(n):
            if rng.random() < 0.2:
                vals.append(None)  # null-count surface
            elif pa.types.is_integer(typ):
                vals.append(rng.randint(-5, 5))  # heavy duplicates: NDV
            else:
                vals.append(round(rng.uniform(-100, 100), 2))
        cols[name] = pa.array(vals, typ)
    pq.write_table(pa.table(cols), path / "lineitem.parquet")


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    for tbl in ("events", "customer", "lineitem"):
        if (path / f"{tbl}.parquet").exists():
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"read_parquet('{path}/{tbl}.parquet')"
            )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", SEEDS)
def test_cdc_apply_matches_oracle(spark, tmp_path, seed):
    rng = random.Random(40000 + seed)
    _write_events(rng, tmp_path)
    _write_customer(rng, tmp_path)
    _compare(spark, tmp_path, "lakehouse_cdc_apply", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_markov_transitions_matches_oracle(spark, tmp_path, seed):
    rng = random.Random(40000 + seed)
    _write_events(rng, tmp_path)
    _compare(spark, tmp_path, "events_markov_transitions", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_column_stats_matches_oracle(spark, tmp_path, seed):
    rng = random.Random(40000 + seed)
    _write_lineitem(rng, tmp_path)
    _compare(spark, tmp_path, "maintenance_column_stats", seed)


def test_column_stats_empty_table(spark, tmp_path):
    """ANALYZE over an empty table: one row per column, zero counts, NULL
    min/max — stack must not collapse to zero rows on either engine."""
    rng = random.Random(0)
    _write_lineitem(rng, tmp_path, empty=True)
    out = registry.QUERIES["maintenance_column_stats"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 8
    assert all(
        r["n_rows"] == 0 and r["n_distinct"] == 0 and r["min_val"] is None
        for r in out
    )
    _compare(spark, tmp_path, "maintenance_column_stats", "empty")


def test_cdc_delete_last_key_vanishes(spark, tmp_path):
    """A key whose final changelog op is a delete must be absent from the
    applied snapshot even when earlier ops were upserts."""
    rows = [
        (1, _T0, 1, "signup", 10.0),
        (2, _T0 + dt.timedelta(seconds=60), 1, "purchase", 20.0),
        (3, _T0 + dt.timedelta(seconds=120), 1, "error", None),
        (4, _T0, 2, "purchase", 42.0),
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
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3], pa.int64()),
                "c_acctbal": pa.array([1.0, 2.0, 3.0], pa.float64()),
            }
        ),
        tmp_path / "customer.parquet",
    )
    out = {
        r["entity_key"]: r
        for r in registry.QUERIES["lakehouse_cdc_apply"](
            spark, str(tmp_path)
        ).collect()
    }
    assert 1 not in out  # deleted
    assert out[2]["effective_bal"] == 42.0  # upserted
    assert out[3]["effective_bal"] == 3.0  # untouched base


def test_markov_single_type_prob_is_one(spark, tmp_path):
    """A one-type corpus inside one session: the only transition row is
    (t, t) with prob_ppm exactly 1_000_000."""
    rows = [
        (i, _T0 + dt.timedelta(seconds=i * 10), 1, "view", 1.0) for i in range(5)
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
    out = registry.QUERIES["events_markov_transitions"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["from_type"] == "view" and out[0]["to_type"] == "view"
    assert out[0]["n_trans"] == 4 and out[0]["prob_ppm"] == 1_000_000
