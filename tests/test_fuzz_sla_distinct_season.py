"""Fuzz family 45: r10-continuation SLA / cumulative-distinct / seasonality.

* ``orders_fulfillment_sla`` (lineitem+orders): NEGATIVE delays (ship
  before order — floor must agree on negatives), delays exactly ON the
  7-day SLA boundary, NULL dates (excluded), dangling lines/orders
  (inner join drops), single-line priorities (degenerate percentiles).
* ``window_cumulative_distinct`` (events): re-debuts (a type seen again
  flags 0), duplicate-ts tie runs ordered by event_id, single-type
  users (count pins at 1), NULL ts excluded.
* ``events_seasonality_profile`` (events): corpora clustered into one
  (dow, hour) cell (intensity exactly 168e6 ppm), events exactly at
  midnight / hour boundaries (integer epoch bucketing must agree).

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

SEEDS = range(40)
_T0 = dt.datetime(2024, 8, 1, 0, 0, 0)
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM"]


def _write_orders_lineitem(seed: int, path) -> None:
    rng = random.Random(45000 + seed)
    orders, lines = [], []
    for o in range(1, rng.randint(2, 25) + 1):
        odate = (
            None
            if rng.random() < 0.1
            else _T0 + dt.timedelta(seconds=rng.randint(0, 20 * 86400))
        )
        orders.append((o, odate, rng.choice(_PRIO)))
        if rng.random() < 0.15:
            continue  # order without lines
        for _ in range(rng.randint(1, 4)):
            shape = rng.choice(["normal", "negative", "boundary", "null"])
            if shape == "null" or odate is None:
                sdate = None if shape == "null" else _T0
            elif shape == "negative":
                sdate = odate - dt.timedelta(seconds=rng.randint(1, 5 * 86400))
            elif shape == "boundary":
                sdate = odate + dt.timedelta(days=7)  # exactly ON the SLA
            else:
                sdate = odate + dt.timedelta(seconds=rng.randint(0, 20 * 86400))
            lines.append((o, sdate))
    if rng.random() < 0.3:
        lines.append((9999, _T0))  # dangling line: inner join drops it
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in orders], pa.int64()),
                "o_orderdate": pa.array(
                    [r[1] for r in orders], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array([r[2] for r in orders], pa.string()),
            }
        ),
        path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lines], pa.int64()),
                "l_shipdate": pa.array([r[1] for r in lines], pa.timestamp("us")),
            }
        ),
        path / "lineitem.parquet",
    )


def _write_events(seed: int, path) -> None:
    rng = random.Random(45500 + seed)
    rows = []
    eid = 1
    cluster = rng.random() < 0.25  # everything in ONE (dow, hour) cell
    for u in range(1, rng.randint(1, 10) + 1):
        types = random.Random(seed * 31 + u).sample(
            ["view", "click", "purchase", "signup", "error"], rng.randint(1, 5)
        )
        t = rng.randint(0, 86400 * 14)
        for _ in range(rng.randint(1, 15)):
            if cluster:
                ts = _T0 + dt.timedelta(minutes=rng.randint(0, 59))
            else:
                t += rng.choice([0, 0, 3600, rng.randint(1, 90000)])
                ts = None if rng.random() < 0.1 else _T0 + dt.timedelta(seconds=t)
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


@pytest.mark.parametrize("seed", SEEDS)
def test_fulfillment_sla_matches_oracle(spark, tmp_path, seed):
    _write_orders_lineitem(seed, tmp_path)
    _compare(spark, tmp_path, "orders_fulfillment_sla", seed, ["orders", "lineitem"])


@pytest.mark.parametrize("seed", SEEDS)
def test_cumulative_distinct_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "window_cumulative_distinct", seed, ["events"])


@pytest.mark.parametrize("seed", SEEDS)
def test_seasonality_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_seasonality_profile", seed, ["events"])


def test_one_cell_corpus_intensity_is_168x(spark, tmp_path):
    """Every event in one (dow, hour) cell: that cell's intensity is
    exactly 168 000 000 ppm and it is the only output row."""
    rows = [
        (i, _T0 + dt.timedelta(minutes=i), 1, "view", 1.0) for i in range(10)
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
    out = registry.QUERIES["events_seasonality_profile"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1 and out[0]["intensity_ppm"] == 168_000_000


def test_cumulative_distinct_monotone_and_capped(spark, tmp_path):
    """The running count never decreases and never exceeds the user's
    distinct type count; a re-seen type does not bump it."""
    seq = ["view", "click", "view", "click", "error", "view"]
    rows = [
        (i, _T0 + dt.timedelta(seconds=60 * i), 1, t, 1.0)
        for i, t in enumerate(seq)
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
    out = registry.QUERIES["window_cumulative_distinct"](
        spark, str(tmp_path)
    ).collect()
    assert [r["distinct_types_so_far"] for r in out] == [1, 2, 2, 2, 3, 3]


# -- family-45 rider: the composed events pipeline (round-10 cont.) ---------
@pytest.mark.parametrize("seed", range(40))
def test_pipeline_events_e2e_matches_oracle(spark, tmp_path, seed):
    """The composed sessionize→session-stats→daily-rollup chain over the
    same adversarial corpora (NULL ts, duplicate-instant ties, session
    boundaries): every stage's agreement surface compounds here."""
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "pipeline_events_e2e", seed, ["events"])
