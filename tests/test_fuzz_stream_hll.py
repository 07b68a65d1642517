"""Fuzz family 32: streaming HLL-distinct, differential on random streams.

The stream_hll_distinct_live contract (sketch-per-window state, estimate
within 5% of exact) under random parameters (judge r8 order #7):

* 30 single-batch seeds: random window widths (10 min - 3 h), user
  cardinalities (5 - 4000), row counts and time spans.  The streamed
  ``hll_sketch_agg`` estimate must land within 5% + 1e-6 of the exact
  per-window distinct count, and the exact side is differentially checked
  against DuckDB on the same file — both the drift pin and the window
  arithmetic are fuzzed, not just the fixed 1-hour corpus shape.

* 10 late-data seeds: three files drained through ``maxFilesPerTrigger=1``
  (three real micro-batches).  Spark 3.4+ filters late events with the
  PREVIOUS batch's watermark and evicts state with the current one
  (SPARK-42376 two-watermark semantics — measured here: a 2-batch replay
  never drops anything, because batch 1's late filter still carries
  batch 0's initial zero watermark).  The geometry therefore makes every
  batch-3 row unambiguous under either watermark: "old" rows end at
  least one width below max_ts(file0) − delay (dropped whether the
  filter lags one batch or two), "fresh" rows sit above max_ts(file1)
  (kept under any watermark the run can reach).  The oracle counts
  distinct users over file0 ∪ file1 ∪ fresh(file2) in DuckDB; emitted
  windows and estimates must match within the same 5% pin.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.streaming.streams import run_available_now

pytestmark = pytest.mark.seeded("seed")

_EPOCH = dt.datetime(2024, 3, 1)


def _corpus(seed: int, n_files: int):
    """Returns (width_s, delay_s, files) with files = list of row-lists of
    (event_id, user_id, ts)."""
    rng = random.Random(320_000 + seed)
    width_s = rng.choice([600, 900, 1800, 3600, 7200, 10800])
    delay_s = rng.choice([300, 600, 1800]) + 1  # +1s: off window boundaries
    n_users = rng.choice([5, 40, 300, 1200, 4000])
    span_s = width_s * rng.randint(2, 8)
    files = []
    eid = 0
    for _ in range(n_files):
        n = rng.randint(50, 3000)
        rows = []
        for _ in range(n):
            ts = _EPOCH + dt.timedelta(
                seconds=rng.uniform(0, span_s)
            )  # float seconds -> microsecond offsets
            rows.append((eid, rng.randrange(n_users), ts))
            eid += 1
        files.append(rows)
    return width_s, delay_s, files


def _write(rows, path: str) -> None:
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(t, path)


def _stream(spark, landing: str, width_s: int, delay_s: int):
    schema = "event_id bigint, user_id bigint, ts timestamp"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    s = (
        raw.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(F.window("ts", f"{width_s} seconds").alias("w"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .select(
            F.col("w.start").alias("win_start"),
            F.hll_sketch_estimate("sk").alias("est"),
        )
    )
    return run_available_now(s, f"fuzz_hll_{width_s}_{delay_s}", "update")


def _exact(files_kept_sql: str, width_s: int, db_files) -> dict:
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT TIMESTAMP '1970-01-01'
                 + (CAST(floor(epoch(ts) / {width_s}) AS BIGINT) * {width_s})
                   * INTERVAL 1 SECOND AS win_start,
               COUNT(DISTINCT user_id) AS nd
        FROM ({files_kept_sql})
        GROUP BY win_start
        """,
        db_files,
    ).fetchall()
    return {r[0]: r[1] for r in rows}


def _assert_within(streamed: dict, exact: dict, seed: int) -> None:
    assert set(streamed) == set(exact), (
        f"seed {seed}: window sets diverge "
        f"(spark-only {set(streamed) - set(exact)}, "
        f"oracle-only {set(exact) - set(streamed)})"
    )
    for w, nd in exact.items():
        est = streamed[w]
        assert abs(est - nd) <= 0.05 * nd + 1e-6, (
            f"seed {seed}: window {w} estimate {est} vs exact {nd}"
        )


@pytest.mark.parametrize("seed", range(30))
def test_hll_stream_single_batch(spark, tmp_path, seed):
    width_s, delay_s, files = _corpus(seed, 1)
    f = str(tmp_path / "f0.parquet")
    _write(files[0], f)
    out = _stream(spark, str(tmp_path), width_s, delay_s)
    streamed = {
        r["win_start"]: r["est"]
        for r in out.groupBy("win_start").agg(F.max("est").alias("est")).collect()
    }
    exact = _exact("SELECT * FROM read_parquet(?)", width_s, [f])
    _assert_within(streamed, exact, seed)


@pytest.mark.parametrize("seed", range(30, 40))
def test_hll_stream_late_data_eviction(spark, tmp_path, seed):
    rng = random.Random(321_000 + seed)
    width_s = rng.choice([600, 900, 1800, 3600])
    delay_s = rng.choice([300, 600]) + 1  # +1s: off window boundaries
    n_users = rng.choice([40, 300, 1200])
    span_s = width_s * 4

    def draw(lo_s: float, hi_s: float, n: int, eid0: int):
        return [
            (
                eid0 + i,
                rng.randrange(n_users),
                _EPOCH + dt.timedelta(seconds=rng.uniform(lo_s, hi_s)),
            )
            for i in range(n)
        ]

    # f0: [0, span]; plant a row at exactly span so max(f0) is pinned.
    f0_rows = draw(0, span_s, rng.randint(100, 800), 0)
    f0_rows.append((10**6, 0, _EPOCH + dt.timedelta(seconds=span_s)))
    # f1: (span, 2*span]; plant max at 2*span.
    f1_rows = draw(span_s, 2 * span_s, rng.randint(100, 800), 2 * 10**6)
    f1_rows.append((3 * 10**6, 1, _EPOCH + dt.timedelta(seconds=2 * span_s)))
    # f2 old rows: window end <= span - delay - width << max(f0) - delay,
    # dropped under the current OR the one-batch-lagged late filter.
    old_hi = span_s - delay_s - 2 * width_s
    f2_old = draw(0, old_hi, rng.randint(50, 400), 4 * 10**6)
    # f2 fresh rows: strictly above max event time so far — kept under
    # any watermark this run can reach.
    f2_fresh = draw(
        2 * span_s + 1, 2 * span_s + width_s, rng.randint(50, 400), 5 * 10**6
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    paths = []
    for i, rows in enumerate([f0_rows, f1_rows, f2_old + f2_fresh]):
        p = str(landing / f"f{i}.parquet")
        _write(rows, p)
        paths.append(p)
    now = dt.datetime.now().timestamp()
    for i, p in enumerate(paths):  # file order = modification time
        os.utime(p, (now - 300 + i * 100, now - 300 + i * 100))
    kept = str(tmp_path / "kept.parquet")  # outside the landing dir
    _write(f0_rows + f1_rows + f2_fresh, kept)

    out = _stream(spark, str(landing), width_s, delay_s)
    streamed = {
        r["win_start"]: r["est"]
        for r in out.groupBy("win_start").agg(F.max("est").alias("est")).collect()
    }
    exact = _exact("SELECT * FROM read_parquet(?)", width_s, [kept])
    _assert_within(streamed, exact, seed)
