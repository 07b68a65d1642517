"""Fuzz family 35: streaming count-min sketch cells, differential.

stream_cms_topk_live's contract is STRONGER than its HLL sibling's: CMS
counters are plain counts, so the state-store cells must equal the batch
replay EXACTLY — no drift allowance — and micro-batch merge must be
additive.  Two seed sets:

* 30 single-batch seeds: random window widths (10 min – 3 h), key
  cardinalities (5 – 4000), row counts and spans.  Every streamed
  (win_start, d, w) cell must match DuckDB's replay of the same sketch
  (shared seed-salted md5 bucket arithmetic) cell-for-cell — a missing
  cell, an extra cell, or an off-by-one count is a failure.

* 10 multi-batch seeds: three time-ordered files drained through
  ``maxFilesPerTrigger=1`` (three real micro-batches; each file's rows
  sit strictly above the previous file's max event time, so no row is
  late under any watermark the run can reach).  The per-cell counts must
  equal the replay over the UNION — pinning that state-store updates are
  additive across micro-batch boundaries, the property the operator's
  docstring claims "by construction".
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.operators.relational import (
    _CMS_D,
    _SQL_CMS_BUCKET,
    cms_bucket,
)
from duckdb_postgis_spark.streaming.streams import run_available_now

pytestmark = pytest.mark.seeded("seed")

_EPOCH = dt.datetime(2024, 3, 1)


def _write(rows, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        ),
        path,
    )


def _stream_cells(spark, landing: str, width_s: int, delay_s: int, tag: str):
    schema = "event_id bigint, user_id bigint, ts timestamp"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    key = F.col("user_id").cast("string")
    cells_in = raw.withWatermark("ts", f"{delay_s} seconds").select(
        "ts",
        F.posexplode(
            F.array(*[cms_bucket(d, key) for d in range(_CMS_D)])
        ).alias("d", "w"),
    )
    s = (
        cells_in.groupBy(
            F.window("ts", f"{width_s} seconds").alias("win"), "d", "w"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "d", "w", "n")
    )
    out = run_available_now(s, f"fuzz_cms_{tag}", "update")
    # update mode re-emits a cell each time it grows; the final value per
    # cell is the max across emissions (counts only grow)
    return {
        (r["win_start"], r["d"], r["w"]): r["n"]
        for r in out.groupBy("win_start", "d", "w")
        .agg(F.max("n").alias("n"))
        .collect()
    }


def _replay_cells(files, width_s: int) -> dict:
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH ds AS (SELECT unnest(range({_CMS_D})) AS d)
        SELECT TIMESTAMP '1970-01-01'
                 + (CAST(floor(epoch(ts) / {width_s}) AS BIGINT) * {width_s})
                   * INTERVAL 1 SECOND AS win_start,
               ds.d, {_SQL_CMS_BUCKET.format(d='ds.d', key='user_id')} AS w,
               COUNT(*) AS n
        FROM read_parquet(?) CROSS JOIN ds
        GROUP BY 1, 2, 3
        """,
        [files],
    ).fetchall()
    return {(r[0], r[1], r[2]): r[3] for r in rows}


@pytest.mark.parametrize("seed", range(30))
def test_cms_stream_single_batch_cells_exact(spark, tmp_path, seed):
    rng = random.Random(350_000 + seed)
    width_s = rng.choice([600, 900, 1800, 3600, 7200, 10800])
    delay_s = rng.choice([300, 600, 1800]) + 1
    n_users = rng.choice([5, 40, 300, 1200, 4000])
    span_s = width_s * rng.randint(2, 6)
    rows = [
        (
            i,
            rng.randrange(n_users),
            _EPOCH + dt.timedelta(seconds=rng.uniform(0, span_s)),
        )
        for i in range(rng.randint(50, 2500))
    ]
    f = str(tmp_path / "f0.parquet")
    _write(rows, f)
    streamed = _stream_cells(spark, str(tmp_path), width_s, delay_s, f"s{seed}")
    exact = _replay_cells([f], width_s)
    assert streamed == exact, (
        f"seed {seed}: CMS cells diverge "
        f"(spark-only {len(set(streamed) - set(exact))}, "
        f"oracle-only {len(set(exact) - set(streamed))}, "
        f"count-mismatch "
        f"{sum(1 for k in streamed if k in exact and streamed[k] != exact[k])})"
    )


@pytest.mark.parametrize("seed", range(30, 40))
def test_cms_stream_multibatch_additive(spark, tmp_path, seed):
    rng = random.Random(351_000 + seed)
    width_s = rng.choice([600, 900, 1800, 3600])
    delay_s = rng.choice([300, 600]) + 1
    n_users = rng.choice([40, 300, 1200])
    span_s = width_s * 3
    paths = []
    eid = 0
    for b in range(3):  # time-ordered slices: batch b in (b*span, (b+1)*span]
        rows = [
            (
                eid + i,
                rng.randrange(n_users),
                _EPOCH
                + dt.timedelta(
                    seconds=rng.uniform(b * span_s + 1, (b + 1) * span_s)
                ),
            )
            for i in range(rng.randint(80, 800))
        ]
        eid += 10**6
        p = str(tmp_path / f"f{b}.parquet")
        _write(rows, p)
        paths.append(p)
    streamed = _stream_cells(spark, str(tmp_path), width_s, delay_s, f"m{seed}")
    exact = _replay_cells(paths, width_s)
    assert streamed == exact, f"seed {seed}: multi-batch CMS cells diverge"
