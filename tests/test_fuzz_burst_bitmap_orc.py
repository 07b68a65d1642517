"""Fuzz family 46: r10-continuation burst / bitmap / ORC roundtrip.

* ``events_burst_detection``: step bursts after quiet hours, slow ramps
  (must NOT fire), minutes exactly AT the 4x threshold (strict > on
  both engines), empty trailing windows (trailing_n = 0 rows never
  fire), sparse series with >60-minute gaps (range frame must see an
  empty window, not the last present row).
* ``agg_bitmap_distinct_days``: activity on the slot-62 boundary and
  wheel-wrap collisions (days 63 apart land on one bit — popcount must
  agree), single-day users, NULL ts.
* ``scan_orc_roundtrip``: synthesized lineitem corpora crossing the
  parquet→ORC→Spark boundary, incl. NULL timestamps and negative
  prices — the digest must match the raw-parquet oracle bit-for-bit.

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

_T0 = dt.datetime(2024, 9, 1, 0, 0, 0)


def _write_events(seed: int, path) -> None:
    rng = random.Random(46000 + seed)
    rows = []
    eid = 1
    for u in range(1, rng.randint(1, 6) + 1):
        shape = rng.choice(["step", "ramp", "threshold", "sparse", "wrap"])
        t = rng.randint(0, 3600)
        if shape == "step":
            for _ in range(rng.randint(30, 80)):  # quiet hour
                t += rng.randint(45, 120)
                rows.append((eid, _T0 + dt.timedelta(seconds=t), u, "view", 1.0))
                eid += 1
            burst_min = (t // 60 + 2) * 60
            for i in range(rng.randint(10, 25)):  # then a step burst
                rows.append(
                    (eid, _T0 + dt.timedelta(seconds=burst_min + i % 60), u, "view", 1.0)
                )
                eid += 1
        elif shape == "wrap":
            # same weekday slot 63 days apart: one bit, popcount 1
            base = rng.randint(0, 62)
            for k in range(rng.randint(1, 3)):
                rows.append(
                    (eid, _T0 + dt.timedelta(days=base + 63 * k), u, "view", 1.0)
                )
                eid += 1
        else:
            for _ in range(rng.randint(5, 60)):
                if shape == "ramp":
                    t += max(10, 120 - eid % 110)  # gradually denser
                elif shape == "sparse":
                    t += rng.randint(3700, 20000)  # >60-min gaps
                else:
                    t += rng.randint(5, 300)
                ts = None if rng.random() < 0.05 else _T0 + dt.timedelta(seconds=t)
                rows.append((eid, ts, u, rng.choice(["view", "click"]), 1.0))
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


def _write_lineitem(seed: int, path) -> None:
    rng = random.Random(46500 + seed)
    n = rng.randint(1, 80)
    rows = [
        (
            rng.randint(1, 50),
            rng.choice(["A", "N", "R"]),
            None if rng.random() < 0.1 else round(rng.uniform(-500, 5000), 2),
            None
            if rng.random() < 0.1
            else _T0 + dt.timedelta(seconds=rng.randint(0, 90 * 86400)),
        )
        for _ in range(n)
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_returnflag": pa.array([r[1] for r in rows], pa.string()),
                "l_extendedprice": pa.array([r[2] for r in rows], pa.float64()),
                "l_shipdate": pa.array([r[3] for r in rows], pa.timestamp("us")),
            }
        ),
        path / "lineitem.parquet",
    )


def _compare(spark, path, name: str, seed, tbl: str) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {tbl} AS SELECT * FROM "
        f"read_parquet('{path}/{tbl}.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", range(40))
def test_burst_detection_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "events_burst_detection", seed, "events")


@pytest.mark.parametrize("seed", range(40))
def test_bitmap_days_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "agg_bitmap_distinct_days", seed, "events")


@pytest.mark.parametrize("seed", range(15))
def test_orc_roundtrip_matches_oracle(spark, tmp_path, seed):
    _write_lineitem(seed, tmp_path)
    _compare(spark, tmp_path, "scan_orc_roundtrip", seed, "lineitem")


def test_wheel_wrap_collides_to_one_bit(spark, tmp_path):
    """Two active days exactly 63 apart share a slot: popcount 1 — the
    documented wheel-wrap trade, pinned."""
    rows = [
        (1, _T0, 1, "view", 1.0),
        (2, _T0 + dt.timedelta(days=63), 1, "view", 1.0),
        (3, _T0 + dt.timedelta(days=1), 2, "view", 1.0),
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
    out = {
        r["user_id"]: r
        for r in registry.QUERIES["agg_bitmap_distinct_days"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1]["n_active_days"] == 1  # wrapped
    assert out[2]["n_active_days"] == 1


def test_exact_threshold_does_not_fire(spark, tmp_path):
    """A minute at exactly 4x the trailing average must NOT fire (strict >):
    60 events spread 1/min for an hour, then a minute with exactly 4."""
    rows = []
    for i in range(60):
        rows.append((i, _T0 + dt.timedelta(minutes=i, seconds=30), 1, "view", 1.0))
    for j in range(4):  # minute 60: exactly 4 = 4 * (60/60)
        rows.append((100 + j, _T0 + dt.timedelta(minutes=60, seconds=j), 1, "view", 1.0))
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
    out = registry.QUERIES["events_burst_detection"](spark, str(tmp_path)).collect()
    assert all(r["minute_idx"] != (_T0 + dt.timedelta(minutes=60)).timestamp() // 60
               or r["n"] != 4 for r in out)
    _compare(spark, tmp_path, "events_burst_detection", "threshold", "events")


def test_bitmap_pre1970_slot_stays_in_wheel(spark):
    """ADVICE r10: a pre-1970 ts floors to a NEGATIVE epoch-day; plain %
    kept the sign, DuckDB raised on the negative shift and Spark silently
    set a wrong bit.  The registered query can't actually SEE such rows —
    catalog.py's encoding-drift gate refuses events.ts outside
    [2000, 2100] — so this pins the slot EXPRESSIONS both engines now use
    (Spark pmod / oracle +63 re-mod) at the expression level: equal,
    non-negative, shift-safe slots for any epoch sign."""
    stamps = [
        "1969-12-30 12:00:00",  # epoch day -2 -> slot 61
        "1969-12-31 23:59:59",  # epoch day -1 -> slot 62
        "1970-01-01 00:00:01",  # epoch day 0  -> slot 0
        "2024-09-01 08:00:00",  # modern day   -> same slot both engines
    ]
    got = (
        spark.createDataFrame([(s,) for s in stamps], "ts_s string")
        .selectExpr(
            "pmod(CAST(floor(unix_micros(CAST(ts_s AS TIMESTAMP)) "
            "/ 86400000000) AS BIGINT), 63) AS day_slot"
        )
        .collect()
    )
    spark_slots = [r["day_slot"] for r in got]
    con = duckdb.connect()
    # the oracle's wheel-mod form: 63 days of microseconds, mod FIRST so
    # the truncating // runs on a non-negative value (DuckDB // truncates
    # toward zero on negatives; Spark floor floors -- they diverge there)
    want = [
        con.execute(
            "SELECT CAST((epoch_us(CAST(? AS TIMESTAMP)) % 5443200000000"
            " + 5443200000000) % 5443200000000 // 86400000000 AS INT)",
            [s],
        ).fetchone()[0]
        for s in stamps
    ]
    assert spark_slots == want
    assert spark_slots[:3] == [61, 62, 0]
    assert all(0 <= s < 63 for s in spark_slots)
    # and DuckDB can actually shift by every produced slot (the old
    # negative-slot expression raised here)
    for s in want:
        con.execute("SELECT CAST(1 AS BIGINT) << ?", [s]).fetchone()
