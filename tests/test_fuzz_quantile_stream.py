"""Fuzz family 37: streaming quantile-histogram cells, exact differential.

stream_quantile_hist_live's contract mirrors the CMS sibling (family
35): histogram counters are plain counts, so the state-store cells must
equal a batch recount EXACTLY, and micro-batch merge must be additive.
The quantile twist: bin assignment depends on (lo, hi, width) Python
floats — both the streamed and direct paths here bin through the SAME
expressions, so these tests recount in DuckDB through independently
reconstructed arithmetic to catch a binning-expression drift that the
operator's internal equal-by-construction check cannot see.

* 15 single-batch seeds: random window widths, value ranges (incl.
  negative and constant-value corpora where width degenerates to the
  1.0 fallback), NULL-value rows (excluded from cells on both sides).
* 6 multi-batch seeds: three time-ordered files drained through
  maxFilesPerTrigger=1 — per-cell counts must equal the recount over
  the union (state-store additivity across micro-batch boundaries).
"""

from __future__ import annotations

import datetime as dt
import math
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.operators.relational import _QH_BINS
from duckdb_postgis_spark.streaming.streams import run_available_now

pytestmark = pytest.mark.seeded("seed")

_EPOCH = dt.datetime(2024, 5, 1)


def _write(rows, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
        path,
    )


def _stream_cells(spark, landing: str, width_s: int, lo: float, width: float, tag: str):
    schema = "event_id bigint, ts timestamp, value double"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    x = F.col("value").cast("double")
    bin_of = F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(_QH_BINS - 1),
    ).cast("int")
    cells_in = (
        raw.filter(F.col("value").isNotNull())
        .withWatermark("ts", "301 seconds")
        .select("ts", bin_of.alias("bin"))
    )
    s = (
        cells_in.groupBy(F.window("ts", f"{width_s} seconds").alias("win"), "bin")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "bin", "n")
    )
    out = run_available_now(s, f"fuzz_qh_{tag}", "update")
    # update mode re-emits growing cells; final value = max per cell
    return {
        (r["win_start"], r["bin"]): r["n"]
        for r in out.groupBy("win_start", "bin")
        .agg(F.max("n").alias("n"))
        .collect()
    }


def _recount(files, width_s: int, lo: float, width: float) -> dict:
    """Independent DuckDB recount: floor((x-lo)/width) clamped to
    [0, bins-1] — the same IEEE ops, reconstructed, not shared."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT TIMESTAMP '1970-01-01'
                 + (CAST(floor(epoch(ts) / {width_s}) AS BIGINT) * {width_s})
                   * INTERVAL 1 SECOND AS win_start,
               CAST(LEAST(GREATEST(floor((value - {lo!r}) / {width!r}), 0),
                          {_QH_BINS - 1}) AS INT) AS bin,
               COUNT(*) AS n
        FROM read_parquet(?)
        WHERE value IS NOT NULL
        GROUP BY 1, 2
        """,
        [files],
    ).fetchall()
    return {(r[0], r[1]): r[2] for r in rows}


def _gen_rows(rng, n, span_s, vlo, vhi, null_frac):
    rows = []
    for i in range(n):
        v = None if rng.random() < null_frac else rng.uniform(vlo, vhi)
        rows.append(
            (i, _EPOCH + dt.timedelta(seconds=rng.uniform(0, span_s)), v)
        )
    return rows


@pytest.mark.parametrize("seed", range(15))
def test_qhist_stream_single_batch_cells_exact(spark, tmp_path, seed):
    rng = random.Random(370_000 + seed)
    width_s = rng.choice([600, 1800, 3600, 7200])
    vlo, vhi = sorted([rng.uniform(-500, 500), rng.uniform(-500, 500)])
    if seed % 5 == 4:
        vhi = vlo  # constant corpus: width degenerates to the 1.0 fallback
    rows = _gen_rows(
        rng,
        rng.randint(40, 1500),
        width_s * rng.randint(2, 5),
        vlo,
        vhi,
        null_frac=0.1,
    )
    vals = [r[2] for r in rows if r[2] is not None]
    if not vals:
        pytest.skip("degenerate all-NULL corpus")
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / _QH_BINS or 1.0
    assert math.isfinite(width)
    f = str(tmp_path / "f0.parquet")
    _write(rows, f)
    streamed = _stream_cells(spark, str(tmp_path), width_s, lo, width, f"s{seed}")
    exact = _recount([f], width_s, lo, width)
    assert streamed == exact, f"seed {seed}: histogram cells diverge"


@pytest.mark.parametrize("seed", range(15, 21))
def test_qhist_stream_multibatch_additive(spark, tmp_path, seed):
    rng = random.Random(371_000 + seed)
    width_s = rng.choice([600, 1800, 3600])
    vlo, vhi = sorted([rng.uniform(-100, 100), rng.uniform(100, 300)])
    files = []
    t_base = 0.0
    rows_all = []
    for b in range(3):
        # each file strictly later than the previous: no late rows under
        # any watermark the run can reach
        rows = []
        for i in range(rng.randint(30, 400)):
            v = None if rng.random() < 0.05 else rng.uniform(vlo, vhi)
            rows.append(
                (
                    b * 10_000 + i,
                    _EPOCH + dt.timedelta(seconds=t_base + rng.uniform(0, 5000)),
                    v,
                )
            )
        t_base += 5001
        f = str(tmp_path / f"f{b}.parquet")
        _write(rows, f)
        files.append(f)
        rows_all.extend(rows)
    vals = [r[2] for r in rows_all if r[2] is not None]
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / _QH_BINS or 1.0
    streamed = _stream_cells(spark, str(tmp_path), width_s, lo, width, f"m{seed}")
    exact = _recount(files, width_s, lo, width)
    assert streamed == exact, f"seed {seed}: multibatch cells diverge"


def test_qhist_live_all_null_values(spark, tmp_path):
    """All values NULL: the registered query's guard path — one row per
    hour window with NULL exact_p50 and vacuously-TRUE properties,
    matching the oracle's quantile_cont shape."""
    from duckdb_postgis_spark import registry

    registry.load_all()
    rows = [
        (i, _EPOCH + dt.timedelta(minutes=40 * i), None) for i in range(6)
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * 6, pa.int64()),
                "event_type": pa.array(["view"] * 6, pa.string()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["stream_quantile_hist_live"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(
            registry.ORACLES["stream_quantile_hist_live"]
        ).fetchall()
    )
    assert got == want
    assert all("None" in r[1] or r[1] == "None" for r in got)
