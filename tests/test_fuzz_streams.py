"""Live Structured-Streaming window-parameter fuzz.

Each seed draws a (width, slide, watermark) triple, runs a REAL
``readStream`` tumbling/sliding count through ``Trigger.AvailableNow``
replay, and compares it against a DuckDB epoch-grid reconstruction of the
same windows (the generalized form of the fixed S1/S2 oracles).  This
fuzzes the streaming engine's window-assignment arithmetic itself —
boundary alignment to the 1970 epoch, ceil(width/slide) membership, and
non-divisible width/slide pairs — not just the two shapes the fixed
corpus pins.  Watermark delay is drawn too.

Append mode only emits windows CLOSED by the final watermark
(max event time − delay), so the comparison applies the repo's standard
safe-cutoff rule (stream_session_live / stream_stream_left_outer) to
BOTH sides: only windows provably closed — end < max_ts − delay − slide
— are compared; everything inside that cutoff must match exactly, and a
window Spark wrongly dropped or wrongly emitted inside it is a failure.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.streaming.streams import (
    events_stream,
    run_available_now,
)
from tests.oracle_harness import normalize, run_oracle

pytestmark = pytest.mark.seeded("seed")

SEEDS = 12


def _oracle_sql(width_s: int, slide_s: int, cutoff_iso: str) -> str:
    import math

    k = math.ceil(width_s / slide_s)
    return f"""
    SELECT win_start, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + (CAST(floor(epoch(ts) / {slide_s}) AS BIGINT) * {slide_s}
                  - g.i * {slide_s}) * INTERVAL 1 SECOND AS win_start,
             ts, event_id
      FROM events
      CROSS JOIN (SELECT unnest(range({k})) AS i) g
    ) x
    WHERE win_start > ts - INTERVAL {width_s} SECOND
      AND win_start + INTERVAL {width_s} SECOND < TIMESTAMP '{cutoff_iso}'
    GROUP BY win_start
    """


def _run_one(spark, sf_dir: str, seed: int) -> None:
    import datetime as dt

    import duckdb

    rng = random.Random(400_000 + seed)
    slide_s = rng.choice([180, 300, 420, 900, 1800])
    k = rng.choice([1, 2, 3, 4])
    width_s = k * slide_s if rng.random() < 0.6 else k * slide_s + 60
    wm_min = rng.choice([5, 10, 30])

    max_ts = duckdb.connect().execute(
        f"SELECT max(ts) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    if isinstance(max_ts, int):  # int64-nanos encoding rounds
        max_ts = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=max_ts // 1000
        )
    cutoff = max_ts - dt.timedelta(minutes=wm_min) - dt.timedelta(
        seconds=slide_s
    )

    sdf = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", f"{wm_min} minutes")
        .groupBy(
            F.window("ts", f"{width_s} seconds", f"{slide_s} seconds").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "id_sum")
    )
    # pass the cutoff as a STRING cast to timestamp (ADVICE r6): F.lit on a
    # naive datetime converts through the driver's system timezone, while
    # the DuckDB side parses the same naive literal under UTC — on a
    # non-UTC host the two safe-cutoff boundaries would diverge.  The
    # string→timestamp cast interprets under the session timezone on both
    # engines, the same convention the layout queries use.
    cutoff_str = cutoff.strftime("%Y-%m-%d %H:%M:%S.%f")
    out = run_available_now(sdf, f"fuzz_win_{seed}", "append").filter(
        F.col("win_start") + F.expr(f"INTERVAL {width_s} SECONDS")
        < F.lit(cutoff_str).cast("timestamp")
    )

    s_cols = ["win_start", "n", "id_sum"]
    s_rows = [tuple(r) for r in out.select(*s_cols).collect()]
    o_cols, o_rows, _ = run_oracle(
        _oracle_sql(width_s, slide_s, cutoff.strftime("%Y-%m-%d %H:%M:%S.%f")),
        sf_dir,
    )
    _, ns = normalize(s_cols, s_rows)
    _, no = normalize(o_cols, o_rows)
    assert ns == no, (
        f"stream-window mismatch seed={seed} width={width_s}s "
        f"slide={slide_s}s wm={wm_min}m: spark {len(ns)} rows "
        f"vs oracle {len(no)} rows"
    )


@pytest.mark.parametrize("chunk", range(2))
def test_fuzz_stream_window_parity(spark, sf_dir, chunk):
    for i in range(SEEDS // 2):
        _run_one(spark, sf_dir, chunk * (SEEDS // 2) + i)


# --------------------------------------------------------------------------
# restart-geometry fuzz: the exactly-once-across-restart property of
# tests/test_streaming_resume.py, under RANDOM landing geometries — split
# modulus, slice boundaries, and which earlier slice gets replayed are
# all drawn per seed, and the stream stops/restarts from one checkpoint
# after every phase.  Invariants per seed: no key is ever emitted twice
# (state recovered, not rebuilt), nothing is lost, and every phase
# contributes (non-vacuous).
# --------------------------------------------------------------------------
RESTART_SEEDS = 4


def _run_restart_fuzz(spark, sf_dir: str, tmp_path, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(600_000 + seed)
    t = pq.read_table(f"{sf_dir}/events.parquet")
    users = t.column("user_id").to_pylist()
    P = rng.choice([2, 3])
    phases_tbl = [
        t.filter(pa.array([u % P == i for u in users])) for i in range(P)
    ]
    assert all(p.num_rows for p in phases_tbl)

    land = tmp_path / f"landing_{seed}"
    land.mkdir()
    ckpt = tmp_path / f"ckpt_{seed}"
    out = tmp_path / f"out_{seed}"

    def drain() -> set:
        schema = spark.read.parquet(str(land)).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", rng.choice([1, 2]))
            .parquet(str(land))
            .select("user_id")
            .dropDuplicates(["user_id"])
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        assert q.awaitTermination(240), "restart-fuzz replay did not drain"
        return {r.user_id for r in spark.read.parquet(str(out)).collect()}

    part = 0
    written = []  # slices already landed (for replays)
    seen_prev: set = set()
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i, tbl in enumerate(phases_tbl):
            # land this phase as 1-2 random slices
            cut = rng.randint(1, max(1, tbl.num_rows - 1))
            slices = (
                [tbl] if tbl.num_rows < 2 or rng.random() < 0.3
                else [tbl.slice(0, cut), tbl.slice(cut)]
            )
            # plus a replay of a random earlier slice (must be suppressed
            # by recovered state)
            if written and rng.random() < 0.8:
                slices.append(rng.choice(written))
            for s in slices:
                pq.write_table(s, land / f"part-{part}.parquet")
                written.append(s)
                part += 1
            seen = drain()
            assert seen - seen_prev, f"phase {i} vacuous (seed {seed})"
            seen_prev = seen
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        else:
            spark.conf.unset("spark.sql.shuffle.partitions")

    sink = spark.read.parquet(str(out)).groupBy("user_id").count().collect()
    dupes = [r.user_id for r in sink if r["count"] > 1]
    assert not dupes, f"seed {seed}: re-emitted after restart: {dupes[:5]}"
    all_ids = set(users)
    assert seen_prev == all_ids, f"seed {seed}: lost keys"


@pytest.mark.parametrize("seed", range(RESTART_SEEDS))
def test_fuzz_restart_geometry(spark, sf_dir, tmp_path, seed):
    _run_restart_fuzz(spark, sf_dir, tmp_path, seed)
