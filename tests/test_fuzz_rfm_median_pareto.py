"""Fuzz family 42: r10-continuation RFM / moving-median / concentration.

One events generator, three consumers:

* ``events_rfm_segments``: values landing EXACTLY on a quartile boundary
  (the <= vs > asymmetry between recency and freq/monetary must agree
  cross-engine), single-purchase corpora (all three quartiles collapse
  to one value), users whose last purchase IS the corpus anchor
  (rec_days = 0), and negative purchase values (exact cents on both
  sides of zero).
* ``window_moving_median``: duplicate timestamps ordered by (ts,
  event_id), frames shorter than 5 (series heads — odd/even middle
  arithmetic), NULL values and NULL ts excluded identically, negative
  cents (sort order must agree).
* ``events_value_concentration``: all-negative-or-zero corpora (empty
  output), exact value ties at the rank-100 cut (user_id tie-break),
  fewer than 100 users per type (share_ppm exactly 1_000_000).

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
_T0 = dt.datetime(2024, 6, 1, 0, 0, 0)
_TYPES = ["view", "click", "purchase", "signup", "error"]


def _write_events(seed: int, path) -> None:
    rng = random.Random(42000 + seed)
    n_users = rng.randint(1, 14)
    rows = []
    eid = 1
    for u in range(1, n_users + 1):
        shape = rng.choice(
            ["normal", "single", "tie_heavy", "null_heavy", "negative", "boundary"]
        )
        n_ev = 1 if shape == "single" else rng.randint(1, 12)
        t = rng.randint(0, 10 * 86400)
        for i in range(n_ev):
            t += rng.choice([0, 0, rng.randint(1, 86400)])  # duplicate-ts runs
            ts = None if (shape == "null_heavy" and rng.random() < 0.3) else (
                _T0 + dt.timedelta(seconds=t)
            )
            if shape == "null_heavy" and rng.random() < 0.3:
                val = None
            elif shape == "negative":
                val = round(rng.uniform(-80, 10), 2)
            elif shape == "boundary":
                # small integer cents: quartile boundaries land ON values
                val = rng.choice([1.0, 2.0, 3.0, 4.0])
            else:
                val = round(rng.uniform(0.01, 200), 2)
            rows.append((eid, ts, u, rng.choice(_TYPES), val))
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


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/events.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", SEEDS)
def test_rfm_segments_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_rfm_segments", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_moving_median_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "window_moving_median", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_value_concentration_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_value_concentration", seed)


def _write_fixed(rows, path):
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


def test_concentration_under_100_users_is_total(spark, tmp_path):
    """Fewer than 100 users per type: the top-100 IS everyone, so
    share_ppm must be exactly 1_000_000."""
    rows = [
        (i, _T0 + dt.timedelta(seconds=i), i % 7, "purchase", float(i))
        for i in range(1, 30)
    ]
    _write_fixed(rows, tmp_path)
    out = registry.QUERIES["events_value_concentration"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["share_ppm"] == 1_000_000
    assert out[0]["top100_value"] == out[0]["total_value"]


def test_concentration_nonpositive_only_is_empty(spark, tmp_path):
    """All values <= 0: positive-flow filter leaves nothing on both sides."""
    rows = [
        (i, _T0 + dt.timedelta(seconds=i), 1, "purchase", -float(i))
        for i in range(1, 10)
    ]
    _write_fixed(rows, tmp_path)
    assert registry.QUERIES["events_value_concentration"](
        spark, str(tmp_path)
    ).collect() == []


def test_median_head_frames_odd_even(spark, tmp_path):
    """Series head: frame sizes 1..5 — median of [10], [10,20], [10,20,30]
    ... must follow the exact two-middle-elements rule."""
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    rows = [
        (i + 1, _T0 + dt.timedelta(seconds=60 * i), 1, "view", vals[i])
        for i in range(5)
    ]
    _write_fixed(rows, tmp_path)
    out = registry.QUERIES["window_moving_median"](spark, str(tmp_path)).collect()
    assert [r["median_5"] for r in out] == [10.0, 15.0, 20.0, 25.0, 30.0]


def test_rfm_anchor_user_scores_most_recent(spark, tmp_path):
    """The user owning the corpus-max event: rec_days == 0 ⇒ r_score 4
    (recency inverts — most recent is best)."""
    rows = [
        (1, _T0, 1, "purchase", 10.0),
        (2, _T0 + dt.timedelta(days=5), 2, "purchase", 10.0),
        (3, _T0 + dt.timedelta(days=9), 3, "purchase", 10.0),
        (4, _T0 + dt.timedelta(days=10), 4, "purchase", 10.0),
        # non-purchase event is the corpus anchor: recency measures
        # against it, not the last purchase
        (5, _T0 + dt.timedelta(days=10), 4, "view", 1.0),
    ]
    _write_fixed(rows, tmp_path)
    out = registry.QUERIES["events_rfm_segments"](spark, str(tmp_path)).collect()
    by_r = {r["r_score"]: r for r in out}
    assert 4 in by_r and by_r[4]["n_users"] == 1
    _compare(spark, tmp_path, "events_rfm_segments", "anchor")
