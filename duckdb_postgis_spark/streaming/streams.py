"""Real Structured Streaming over the ``events`` table (SURVEY.md §2.9).

File-source replay: ``spark.readStream.parquet`` over the testdata events
parquet, one file = one micro-batch under ``Trigger.AvailableNow``.  At 100 TB
the same plans run unchanged against a Kafka/file-drop source — the streaming
logical plan is source-agnostic; state size is bounded by the watermark
(per-window / per-key state evicted once the watermark passes), never by the
input size.

Design notes per stream:
- Watermarks use event-time column ``ts``; ``availableNow`` replays emit every
  window in append/update mode once input is exhausted, making the output
  comparable to the batch twins in ``operators/streaming.py``.
- Aggregations are partial (map-side) before the state-store shuffle, so the
  shuffle volume is |windows x keys|, not |events| — the property that keeps
  these plans viable at 1000 executors.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_postgis_spark.catalog import (
    _probe_events_ts,
    read_parquet,
    rebuild_events_ts,
)
from duckdb_postgis_spark.functions.num import sql_dsum
from duckdb_postgis_spark.operators.relational import (
    _CMS_D,
    _QH_BINS,
    _SQL_CMS_BUCKET,
    cms_bucket,
)
from duckdb_postgis_spark.registry import query
from duckdb_postgis_spark.session import session_conf


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` file-source over the events parquet.

    maxFilesPerTrigger=1 keeps micro-batches bounded; at scale the same call
    points at a landing directory receiving continuous file drops.

    The streaming source needs a declared schema; rather than hard-coding
    one physical encoding of ``ts`` (the round-3 silent-corruption bug:
    micros read as longs ÷1000 → 1970 windows) the schema is derived from a
    batch footer read of the SAME file, and the catalog's footer-stats probe
    rejects insane encodings loudly before any stream starts.
    """
    path = f"{sf_dir}/events.parquet"
    _probe_events_ts(path)  # loud min/max sanity gate, cached per path
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # driver-side footer read: no scan and no Spark job
    raw_schema = read_parquet(spark, path).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        # the source path is the whole testdata dir; glob-filter to events
        # only (a file stream source needs a directory, not a file path)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return rebuild_events_ts(raw)


# --------------------------------------------------------------------------
# S1 tumbling window — streaming twin of operators/streaming.py::stream_tumbling
# --------------------------------------------------------------------------
def stream_tumbling_live(events: DataFrame) -> DataFrame:
    """1-hour tumbling count/sum per event_type with a 10-min watermark.

    State: one row per (window, event_type); evicted when watermark passes
    window end → O(active windows) state regardless of input volume.
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.expr(sql_dsum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )


# --------------------------------------------------------------------------
# S2 sliding window
# --------------------------------------------------------------------------
def stream_sliding_live(events: DataFrame) -> DataFrame:
    """1-hour window sliding every 15 min: 4x state amplification, same
    watermark eviction; partial agg collapses the 4x before the shuffle."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )


# --------------------------------------------------------------------------
# S3 session window
# --------------------------------------------------------------------------
def stream_session_live(events: DataFrame) -> DataFrame:
    """Native session windows (30-min gap) per user. Session state merges
    adjacent windows server-side; watermark closes sessions whose
    (last event + gap) < watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# S4 watermark + late-data drop
# --------------------------------------------------------------------------
def stream_watermark_late_live(events: DataFrame) -> DataFrame:
    """Hourly counts under a 10-minute watermark. Late rows (event time more
    than 10 min behind max seen) are dropped by the state store — the rule the
    batch twin reproduces with a running-max window."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )


# --------------------------------------------------------------------------
# S5 stateful dedup within watermark
# --------------------------------------------------------------------------
def stream_dedup_live(events: DataFrame) -> DataFrame:
    """First event per (user_id, event_type, minute) via
    ``dropDuplicatesWithinWatermark`` — state holds one key per group and is
    watermark-bounded, unlike plain dropDuplicates whose state grows forever."""
    keyed = events.withWatermark("ts", "10 minutes").withColumn(
        "minute_bucket", F.date_trunc("minute", "ts")
    )
    return keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute_bucket"]
    ).select("user_id", "event_type", "minute_bucket", "event_id", "ts")


# --------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# --------------------------------------------------------------------------
# state carries only the accumulators — the group key (user_id) is implicit.
# The sum is kept in integer cents (values carry exactly 2 decimals, see
# functions/num.py) so the running total is exact regardless of arrival
# order and value-hash-matches the DuckDB decimal-sum oracle.
USER_STATE_SCHEMA = "n_events LONG, total_cents LONG"
USER_STATE_OUTPUT = "user_id LONG, n_events LONG, total_value DOUBLE"


def stream_user_state_live(events: DataFrame) -> DataFrame:
    """Arbitrary stateful per-user running totals via applyInPandasWithState
    (SURVEY §2.9/§2.12): the custom-operator escape hatch for semantics the
    built-in windows can't express. State is (count, sum) per user — O(users),
    Arrow-batched, grouped so each task owns a hash range of users."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.rint(pdf["value"].to_numpy() * 100).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATE_OUTPUT,
            stateStructType=USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Runner
# --------------------------------------------------------------------------
def _replay_ckpt_dir(prefix: str) -> str:
    """Scratch checkpoint dir for an AvailableNow REPLAY (guide §6.4: put
    churn-heavy intermediate I/O on the fastest local medium).  Every
    micro-batch fsyncs offset/commit logs plus one state-store delta per
    state partition into this dir; the replay never resumes from it (fresh
    mkdtemp per call, deleted after the drain), so checkpoint durability
    buys nothing here — RAM-backed /dev/shm is used when present.
    ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides (e.g. to a durable path, or
    to /tmp to reproduce the disk-backed timing).  Production deployments
    pass a real durable checkpointLocation and never enter this helper —
    resumable checkpoints must survive the machine, exactly what tmpfs
    does not guarantee."""
    import tempfile

    root = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if not root and os.path.isdir("/dev/shm"):
        root = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=root or None)


#: state-store partitions of a replay, pinned for its checkpoint only: the
#: count is fixed at first start from spark.sql.shuffle.partitions, which
#: is 200 under a plain session — 200 state tasks per micro-batch for a
#: testdata-sized replay (11-31 s per query at sf0.01, pure scheduling).
#: A real deployment sizes state partitions to the cluster once, at first
#: deploy; the conf travels with the checkpoint, not the code.
_STATE_PARTS = 8


def run_available_now(
    sdf: DataFrame, name: str, output_mode: str = "append", timeout: int = 120
) -> DataFrame:
    """Drain a streaming DataFrame through Trigger.AvailableNow into an
    in-memory table and return it as a batch DataFrame.

    availableNow processes all currently-available files then stops — the
    deterministic replay mode that makes streaming results comparable to the
    batch twins. In production the same query runs with a continuous trigger
    and a durable sink; only this runner changes.
    """
    spark = sdf.sparkSession
    # At the driver's correctness scale (sf0.01) every replay drains in
    # seconds; at larger sweep scales (sf0.1+) the stream-stream joins
    # legitimately need longer.  Overridable, and NEVER silent: a replay
    # that does not finish raises instead of returning a partial memory
    # table as if it were complete (observed at sf0.1 — the join returned
    # 0 of its rows after a quiet stop(), which a correctness harness
    # must treat as failure, not data).
    timeout = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", str(timeout)))
    ckpt = _replay_ckpt_dir(f"ckpt_{name}_")
    try:
        with session_conf(
            spark, "spark.sql.shuffle.partitions", str(_STATE_PARTS)
        ):
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            finished = q.awaitTermination(timeout)
            if not finished or q.isActive:
                q.stop()
                raise RuntimeError(
                    f"streaming replay {name!r} did not drain within "
                    f"{timeout}s (AvailableNow still active) — refusing to "
                    "return a partial result; raise "
                    "SPARK_GRAFT_STREAM_TIMEOUT for larger scales"
                )
    finally:
        # the memory-sink table is independent of the checkpoint; a drained
        # replay's state/offset files are dead weight (RAM when on /dev/shm)
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# --------------------------------------------------------------------------
# Registered live queries — real Structured Streaming through the driver's
# correctness gate. AvailableNow replay of the events parquet is
# deterministic, so S1/S2/S4/S5-keys and the custom stateful operator keep
# full DuckDB value oracles; the session window (append mode withholds
# unclosed tail sessions) stays rows-only.
# --------------------------------------------------------------------------
@query(
    "stream_tumbling_live",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY win_start, event_type
    """,
)
def q_stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via readStream+AvailableNow (twin: operators/streaming.py S1)."""
    return run_available_now(
        stream_tumbling_live(events_stream(spark, sf_dir)), "q_tumbling", "update"
    )


@query(
    "stream_hll_distinct_live",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           COUNT(DISTINCT user_id) AS exact_nd_users,
           TRUE AS est_within_5pct
    FROM events
    GROUP BY date_trunc('hour', ts)
    ORDER BY win_start
    """,
)
def q_stream_hll_distinct_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT-COUNT via sketch-state maintenance (round 8) —
    the ingest-time form of agg_hll_sketch_merge: exact COUNT(DISTINCT)
    is unsupported in streaming aggregation by design (unbounded
    per-window key state), so a 100 TB pipeline maintains a MERGEABLE
    DataSketches HLL per window in the state store instead —
    ``hll_sketch_agg`` updates per micro-batch, the watermark evicts
    closed windows, and state per window is one ~KB sketch blob
    regardless of user cardinality.

    Correctness contract (the agg_approx_distinct pattern, streaming
    edition): the stream's real per-hour estimates join a batch exact
    twin; the output carries the exact distinct counts (hash-verified
    against DuckDB) plus ``est_within_5pct`` computed from the STREAMED
    estimate, oracle-pinned TRUE — sketch drift through the state-store
    update path is a driver hash failure."""
    ev = events_stream(spark, sf_dir)
    s = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .select(
            F.col("w.start").alias("win_start"),
            F.hll_sketch_estimate("sk").alias("est"),
        )
    )
    streamed = run_available_now(s, "q_hll_distinct", "update")
    from duckdb_postgis_spark.catalog import table

    exact = table(spark, sf_dir, "events").groupBy(
        F.date_trunc("hour", "ts").alias("win_start")
    ).agg(F.count_distinct("user_id").alias("exact_nd_users"))
    within = (
        F.abs(F.col("est").cast("double") - F.col("exact_nd_users").cast("double"))
        <= F.lit(0.05) * F.col("exact_nd_users").cast("double") + F.lit(1e-6)
    )
    return (
        exact.join(streamed, "win_start")
        .select("win_start", "exact_nd_users", within.alias("est_within_5pct"))
        .orderBy("win_start")
    )


@query(
    "stream_cms_topk_live",
    oracle=f"""
    WITH ds AS (SELECT unnest(range({_CMS_D})) AS d),
    cells AS (
        SELECT date_trunc('hour', ts) AS win_start, ds.d,
               {_SQL_CMS_BUCKET.format(d='ds.d', key='user_id')} AS w, COUNT(*) AS n
        FROM events CROSS JOIN ds
        GROUP BY 1, 2, 3
    ),
    top AS (
        SELECT win_start, user_id, exact_cnt FROM (
            SELECT date_trunc('hour', ts) AS win_start, user_id,
                   COUNT(*) AS exact_cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY COUNT(*) DESC, user_id
                   ) AS rn
            FROM events GROUP BY 1, 2
        ) WHERE rn <= 3
    ),
    probes AS (
        SELECT t.win_start, t.user_id, t.exact_cnt, ds.d,
               {_SQL_CMS_BUCKET.format(d='ds.d', key='t.user_id')} AS w
        FROM top t CROSS JOIN ds
    )
    SELECT p.win_start, p.user_id, p.exact_cnt,
           CAST(MIN(c.n) AS BIGINT) AS cms_est,
           TRUE AS cms_ge_exact
    FROM probes p
    JOIN cells c ON c.win_start = p.win_start AND c.d = p.d AND c.w = p.w
    GROUP BY 1, 2, 3
    ORDER BY p.win_start, exact_cnt DESC, p.user_id
    """,
)
def q_stream_cms_topk_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window TOP-K FREQUENCY via count-min-sketch state
    (r10) — completes the LIVE mergeable-summary trio begun by
    stream_hll_distinct_live (distinct) the way agg_cms_topk_merge
    completed the batch trio: exact per-key streaming counts need
    unbounded state in the key cardinality, so the 100 TB ingest path
    maintains a 4x512 CMS per hour window in the state store instead —
    the streaming groupBy key space is (window, d, w), BOUNDED at
    D*W = 2048 counters per window no matter how many users appear, the
    watermark evicts closed windows, and counter updates are plain
    additions so micro-batch merge is lossless BY CONSTRUCTION (the same
    property the batch twin pins as merge_equals_direct).

    Correctness contract (the stream_hll_distinct_live pattern,
    frequency edition): after the AvailableNow drain the streamed
    counter cells are probed for the batch-exact top-3 users per hour
    (row_number over count desc, user_id — deterministic ties), and the
    output carries win_start, user_id, exact_cnt (hash-verified) plus
    cms_est read min-over-rows from the STREAMED state-store cells.  The
    DuckDB oracle replays the entire sketch from raw events — seed-salted
    md5 hash rows (the shared cms_bucket arithmetic), per-window counter
    table, min read — so state-store drift in ANY cell a top key touches
    is a value mismatch; cms_ge_exact pins the one-sided error guarantee
    (collisions only add)."""
    ev = events_stream(spark, sf_dir)
    key = F.col("user_id").cast("string")
    cells_in = ev.withWatermark("ts", "10 minutes").select(
        "ts",
        F.posexplode(
            F.array(*[cms_bucket(d, key) for d in range(_CMS_D)])
        ).alias("d", "w"),
    )
    state = (
        cells_in.groupBy(F.window("ts", "1 hour").alias("win"), "d", "w")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "d", "w", "n")
    )
    streamed = run_available_now(state, "q_cms_topk", "update")
    from duckdb_postgis_spark.catalog import table

    evb = table(spark, sf_dir, "events")
    per_user = evb.groupBy(
        F.date_trunc("hour", "ts").alias("win_start"), "user_id"
    ).agg(F.count("*").alias("exact_cnt"))
    w = Window.partitionBy("win_start").orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    )
    top = (
        per_user.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
    probes = top.select(
        "win_start",
        "user_id",
        "exact_cnt",
        F.posexplode(
            F.array(
                *[
                    cms_bucket(d, F.col("user_id").cast("string"))
                    for d in range(_CMS_D)
                ]
            )
        ).alias("d", "w"),
    )
    est = (
        probes.join(streamed, ["win_start", "d", "w"])
        .groupBy("win_start", "user_id", "exact_cnt")
        .agg(F.min("n").alias("cms_est"))
    )
    return est.select(
        "win_start",
        "user_id",
        "exact_cnt",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("cms_ge_exact"),
    ).orderBy("win_start", F.col("exact_cnt").desc(), "user_id")


@query(
    "stream_sliding_live",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - g.i * 900) * INTERVAL 1 SECOND
             AS win_start,
           COUNT(*) AS n
    FROM events
    CROSS JOIN (SELECT unnest(range(4)) AS i) g
    WHERE TIMESTAMP '1970-01-01 00:00:00'
            + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - g.i * 900) * INTERVAL 1 SECOND
          > ts - INTERVAL 1 HOUR
    GROUP BY win_start
    ORDER BY win_start
    """,
)
def q_stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 via readStream+AvailableNow (twin: operators/streaming.py S2)."""
    return run_available_now(
        stream_sliding_live(events_stream(spark, sf_dir)), "q_sliding", "update"
    )


@query(
    "stream_session_live",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) - INTERVAL 40 MINUTE FROM events)
    ORDER BY user_id, session_start
    """,
)
def q_stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 via readStream+AvailableNow.  Append mode emits a session only
    once the watermark proves it closed (wm ≥ session_end = last event +
    gap), so the unrestricted output withholds an arrival-dependent tail —
    this was rows-only through round 4.  Round 5 applies the same
    safe-cutoff rule as stream_stream_left_outer: restrict BOTH sides to
    sessions with session_end ≤ max(ts) − 40 min — safely inside the
    guaranteed-emitted region (the close boundary is max(ts) − 10 min
    watermark), where streaming and batch sessionization provably agree —
    and the row-level hash comparison becomes exact."""
    out = run_available_now(
        stream_session_live(events_stream(spark, sf_dir)), "q_session", "append"
    )
    from duckdb_postgis_spark.catalog import table as _t

    mx = _t(spark, sf_dir, "events").agg(F.max("ts").alias("mx"))
    return (
        out.join(F.broadcast(mx))
        .filter(F.col("session_end") <= F.col("mx") - F.expr("INTERVAL 40 MINUTES"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


@query(
    "stream_watermark_late_live",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n
    FROM events GROUP BY 1 ORDER BY win_start
    """,
)
def q_stream_watermark_late_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 via readStream+AvailableNow. Single-file replay admits no late rows,
    so the watermarked hourly counts equal the plain rollup — the late-drop
    rule itself is oracle-checked via the batch twin (stream_watermark_late)."""
    return run_available_now(
        stream_watermark_late_live(events_stream(spark, sf_dir)), "q_watermark", "update"
    )


@query(
    "stream_dedup_live",
    oracle="""
    SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS minute_bucket
    FROM events ORDER BY user_id, event_type, minute_bucket
    """,
)
def q_stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 dropDuplicatesWithinWatermark; survivor row choice is
    arrival-order-dependent, so the oracle-checked surface is the key set
    (which is exact); the full row twin is stream_dedup."""
    out = run_available_now(
        stream_dedup_live(events_stream(spark, sf_dir)), "q_dedup", "append"
    )
    return out.select("user_id", "event_type", "minute_bucket").orderBy(
        "user_id", "event_type", "minute_bucket"
    )


@query(
    "stream_user_state",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) — per-user running
    totals in exact integer-cent state; final emission per user equals the
    batch aggregate."""
    out = run_available_now(
        stream_user_state_live(events_stream(spark, sf_dir)), "q_user_state", "update"
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_static_join",
    oracle=f"""
    SELECT date_trunc('hour', e.ts) AS win_start, c.c_mktsegment,
           COUNT(*) AS n, {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY win_start, c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the events stream joined to the
    static customer table (broadcast — stateless, no watermark state for the
    join side), then a windowed rollup per market segment. This is the
    canonical streaming-ETL enrichment shape: at 100 TB/day the dim table is
    broadcast (or a slowly-changing Delta lookup) and the join adds zero
    shuffle to the stream."""
    from duckdb_postgis_spark.catalog import table as _t

    ev = events_stream(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = (
        joined.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n"), F.expr(sql_dsum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "c_mktsegment", "n", "sum_value")
    )
    return run_available_now(agg, "q_static_join", "update").orderBy(
        "win_start", "c_mktsegment"
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_type, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
    GROUP BY a.event_type ORDER BY a.event_type
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on both sides and an
    event-time band — keyed on (event_type, TIME BUCKET), not event_type
    alone (round-7 scale fix; the streaming twin of join_range_bucketed).

    Why the bucket is in the KEY: the symmetric hash join probes every
    buffered row of the matching key, and watermark eviction only runs at
    micro-batch boundaries.  With the key = event_type (5 values), an
    AvailableNow replay that lands in one micro-batch buffers |rows|/5
    per key and the probe degenerates to per-key NESTED LOOPS —
    quadratic in the batch.  Found by the r7 sf1-shaped stress sweep:
    6 min at 100 k events, >1 h (timeout) at 1 M.  Quantizing the band
    into 5-minute buckets and exploding ONE side to its 3 adjacent
    buckets (the bounded 3× explode of A7) makes the equi key
    (type, bucket): each probe touches only rows within one band width,
    so the batch cost is |pairs|, not |rows|²/|types| — the band
    residual predicates stay in the condition, so the watermark state
    bound is still derived and steady-state state stays finite.  Exact
    same pair set: b's bucket always lies in {a−1, a, a+1}, each pair
    meets exactly once (a emits 3 distinct buckets, b owns one).

    Drain-time matrix at the sf1 stress shape (1 M events, local[32],
    measured r8): the r7 sweep's 424 s was HEAP-boundary GC thrash, not
    a plan cost — isolated runs drain in 25 s at 4 GiB and 19 s at
    8 GiB; 2 GiB OOMs outright (an AvailableNow replay of a single
    parquet file is ONE micro-batch, so the join buffers all 4 M
    exploded rows at once — 32 concurrent tasks in a small local heap
    is the constraint, not the state store: RocksDB off-heap state was
    probed and the JVM still dies at 1 GiB from shuffle/task memory).
    On a real cluster each executor holds 1/Nth of one micro-batch; the
    per-task state bound is what the bucket key fixed in r7."""
    bucket_s = 300  # = the 5-minute band width
    a0 = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    a = a0.select(
        F.col("event_type").alias("a_type"),
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
        F.explode(
            F.array(
                *[
                    F.floor(F.unix_micros("ts") / F.lit(bucket_s * 1_000_000))
                    + F.lit(d)
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("a_bk"),
    )
    b0 = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    b = b0.select(
        F.col("event_type").alias("b_type"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
        F.floor(F.unix_micros("ts") / F.lit(bucket_s * 1_000_000)).alias("b_bk"),
    )
    joined = a.join(
        b,
        (F.col("a_type") == F.col("b_type"))
        & (F.col("a_bk") == F.col("b_bk"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    )
    out = run_available_now(
        joined.select(F.col("a_type").alias("event_type")), "q_ss_join", "append"
    )
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# foreachBatch incremental MERGE (streaming write side)
# --------------------------------------------------------------------------

def upsert_merge(snap: DataFrame, batch: DataFrame) -> DataFrame:
    """One latest-wins MERGE step: reduce the change batch to its newest row
    per user, then overwrite snapshot rows whose (last_ts, last_event_id) is
    older.  Commutative and idempotent over (ts, event_id) max — folding any
    partition of the change stream through this function, in any batch
    slicing, yields the same snapshot (asserted in
    tests/test_streaming_live.py::test_upsert_merge_slicing_invariant)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    delta = (
        batch.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("d_event_id"),
            F.col("ts").alias("d_ts"),
            F.col("value").alias("d_bal"),
        )
    )
    newer = F.col("last_ts").isNull() | (
        F.struct("d_ts", "d_event_id")
        > F.struct(
            F.col("last_ts").alias("d_ts"),
            F.col("last_event_id").alias("d_event_id"),
        )
    )
    take_delta = F.col("d_event_id").isNotNull() & newer
    return snap.join(delta, snap.c_custkey == delta.user_id, "left").select(
        "c_custkey",
        "base_bal",
        F.when(take_delta, F.col("d_event_id"))
        .otherwise(F.col("last_event_id"))
        .alias("last_event_id"),
        F.when(take_delta, F.col("d_ts")).otherwise(F.col("last_ts")).alias("last_ts"),
        F.when(take_delta, F.col("d_bal"))
        .otherwise(F.col("effective_bal"))
        .alias("effective_bal"),
    )


@query(
    "stream_upsert_live",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS new_bal
        FROM (
            SELECT user_id, event_id, ts, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE event_type = 'purchase'
        ) t WHERE rn = 1
    )
    SELECT c.c_custkey,
           c.c_acctbal AS base_bal,
           latest.last_event_id,
           latest.last_ts,
           COALESCE(latest.new_bal, c.c_acctbal) AS effective_bal
    FROM customer c
    LEFT JOIN latest ON c.c_custkey = latest.user_id
    ORDER BY c.c_custkey
    """,
)
def q_stream_upsert_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via foreachBatch: each micro-batch of purchase
    events is reduced to its latest row per user and merged latest-wins
    onto a parquet customer snapshot (alternating A/B paths — the poor
    man's Delta commit).  The merge is COMMUTATIVE over (ts, event_id)
    max, so the final snapshot is independent of micro-batch slicing and
    equals the batch upsert (operators/lakehouse.py) — which is the oracle.

    Scale: per batch, one WindowGroupLimit pass over the delta + one
    key-shuffle join against the snapshot; snapshot rewrite is the
    standard copy-on-write MERGE cost (a real deployment swaps the parquet
    A/B paths for Delta/Iceberg commits; the plan is identical)."""
    import tempfile

    from duckdb_postgis_spark.catalog import table as _btable

    root = tempfile.mkdtemp(prefix="stream_upsert_")
    paths = [f"{root}/a", f"{root}/b"]
    cust = _btable(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("base_bal"),
        F.lit(None).cast("long").alias("last_event_id"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.col("c_acctbal").alias("effective_bal"),
    )
    cust.write.mode("overwrite").parquet(paths[0])
    state = {"cur": 0}

    def merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        snap = read_parquet(s, paths[state["cur"]])
        merged = upsert_merge(snap, batch)
        nxt = 1 - state["cur"]
        merged.write.mode("overwrite").parquet(paths[nxt])
        state["cur"] = nxt

    ev = events_stream(spark, sf_dir)
    ckpt = _replay_ckpt_dir("ckpt_upsert_")
    q = (
        ev.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    return read_parquet(spark, paths[state["cur"]])


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER join (round 5)
# --------------------------------------------------------------------------
@query(
    "stream_stream_left_outer",
    oracle="""
    WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'),
         b AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
         m AS (SELECT max(ts) AS mx FROM a)
    SELECT a.user_id AS a_user, a.event_id AS a_id, b.event_id AS b_id,
           CAST(CASE WHEN b.event_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS matched
    FROM a LEFT JOIN b
      ON a.user_id = b.user_id AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 5 MINUTE
    CROSS JOIN m
    WHERE a.ts <= m.mx - INTERVAL 30 MINUTE
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: signups left-joined to
    purchases by the same user within [signup, signup + 5 min].  The outer
    (null-extended) rows are the part inner joins can't express: a signup
    emits with b_id NULL only once the watermark proves no purchase can
    still arrive — state eviction IS the null-emission trigger, bounded by
    watermark + band exactly like the inner join's buffer.

    Replay determinism: rows near the left side's max event time are
    withheld (their state never expires before the replay ends), and the
    exact eviction boundary is an implementation detail of per-source
    watermark bookkeeping — so BOTH the emitted set and the oracle are
    restricted to a_ts ≤ max(signup ts) − 30 min, safely inside the
    guaranteed-evicted region (boundary is watermark 10 min + band 5 min);
    every such row is provably emitted, making the row-level comparison
    exact.  Matched rows emit immediately and need no restriction, but
    share the cutoff so the two sides stay identical."""
    a = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("a_id"),
            F.col("ts").alias("a_ts"),
        )
    )
    b = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_id"),
            F.col("ts").alias("b_ts"),
        )
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    )
    out = run_available_now(
        joined.select("a_user", "a_id", "a_ts", "b_id"), "q_ss_loj", "append"
    )
    from duckdb_postgis_spark.catalog import table as _t

    mx = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .agg(F.max("ts").alias("mx"))
    )
    return (
        out.join(F.broadcast(mx))
        .filter(F.col("a_ts") <= F.col("mx") - F.expr("INTERVAL 30 MINUTES"))
        .select(
            "a_user",
            "a_id",
            "b_id",
            F.col("b_id").isNotNull().cast("int").alias("matched"),
        )
    )


# --------------------------------------------------------------------------
# Chained stateful operators: dedup -> windowed agg (round 5)
# --------------------------------------------------------------------------
@query(
    "stream_chained_dedup_agg",
    oracle="""
    SELECT date_trunc('hour', m) AS win_start, event_type, COUNT(*) AS n_first
    FROM (
        SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
        FROM events
    )
    GROUP BY 1, 2 ORDER BY win_start, event_type
    """,
)
def q_stream_chained_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful operators in one streaming query (Spark 3.5+
    capability, §2.12c API surface): dropDuplicatesWithinWatermark on
    (user, type, minute) feeding a 1-hour windowed count per type — the
    "unique actors per hour" shape that naive counting gets wrong under
    at-least-once delivery.  Dedup emits each first-seen row in the batch
    it arrives (no withholding), so only the downstream agg waits on the
    watermark; under single-file AvailableNow replay every window closes in
    the final batch and each key updates exactly once, so the update-mode
    sink holds the exact distinct-minute counts (the survivor's ts shares
    its minute's hour, so windowing on the survivor ts equals windowing on
    the minute bucket).

    Scale: dedup state is one key per (user, type, minute) within the
    watermark horizon; the agg's state is |windows × types| — both
    watermark-evicted, both partial-aggregated before their shuffles."""
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .withColumn("minute_bucket", F.date_trunc("minute", "ts"))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_first"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_first")
    )
    return run_available_now(agg, "q_chained_dd_agg", "update").orderBy(
        "win_start", "event_type"
    )


@query(
    "stream_quantile_hist_live",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           TRUE AS median_rank_in_bin,
           TRUE AS stream_cells_equal_direct
    FROM events
    GROUP BY date_trunc('hour', ts)
    ORDER BY win_start
    """,
)
def q_stream_quantile_hist_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window MEDIAN via histogram state (r10 continuation)
    — the quantile member of the LIVE mergeable-summary trio
    (stream_hll_distinct_live: distinct; stream_cms_topk_live: frequency;
    this: quantiles), mirroring how agg_quantile_histogram_merge completed
    the batch trio.  Exact streaming quantiles need every value in state;
    the 100 TB ingest path maintains a 256-bin equi-width histogram per
    hour window instead — the streaming groupBy key space is
    (window, bin), BOUNDED at _QH_BINS counters per window no matter how
    many values arrive, the watermark evicts closed windows, and counter
    updates are plain additions so micro-batch merge is lossless BY
    CONSTRUCTION (the batch twin's merge_equals_direct property).

    Correctness contract (the stream_hll_distinct_live pattern, quantile
    edition): after the AvailableNow drain, the streamed per-window cells
    are checked two ways against a batch recount of the same parquet —
    (a) cell-exact equality with the direct batch histogram
    (``stream_cells_equal_direct``: state-store drift in ANY counter is a
    driver hash failure), and (b) the median bin read off the STREAMED
    CDF really brackets rank ceil(n/2) when recounted from raw rows
    (``median_rank_in_bin`` — the rank-space guarantee the batch twin
    pins; fuzz family 28's counterexample killed the value-space claim).
    The exact per-window median rides along hash-verified
    (percentile/quantile_cont twin, round 6).  Bin bounds come from one
    tiny min/max agg over the batch table — at ingest they ride parquet
    footer stats or an a-priori domain contract; both the streamed and
    the direct histograms bin through the SAME Python floats, so the
    properties never depend on cross-engine float parity."""
    from duckdb_postgis_spark.catalog import table

    evb = table(spark, sf_dir, "events")
    x = F.col("value").cast("double")
    exact = evb.groupBy(F.date_trunc("hour", "ts").alias("win_start")).agg(
        F.expr("percentile(value, 0.5)").alias("exact_raw")
    )
    lo, hi = evb.agg(F.min(x), F.max(x)).first()
    if lo is None or hi is None:
        # empty table or all-NULL values: no cells exist on either path —
        # emit the oracle's shape (one row per window incl. the NULL-ts
        # group's absence; properties vacuously TRUE)
        return exact.select(
            "win_start",
            F.round("exact_raw", 6).alias("exact_p50"),
            F.lit(True).alias("median_rank_in_bin"),
            F.lit(True).alias("stream_cells_equal_direct"),
        ).orderBy("win_start")
    width = (float(hi) - float(lo)) / _QH_BINS or 1.0
    bin_of = F.least(
        F.greatest(F.floor((x - F.lit(float(lo))) / F.lit(width)), F.lit(0)),
        F.lit(_QH_BINS - 1),
    ).cast("int")

    ev = events_stream(spark, sf_dir)
    cells_in = (
        ev.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .select("ts", bin_of.alias("bin"))
    )
    state = (
        cells_in.groupBy(F.window("ts", "1 hour").alias("win"), "bin")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "bin", "n")
    )
    streamed = run_available_now(state, "q_qhist", "update")

    direct = (
        evb.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"), bin_of.alias("bin"))
        .agg(F.count("*").alias("n_direct"))
    )
    mism = (
        streamed.join(direct, ["win_start", "bin"], "full")
        .groupBy("win_start")
        .agg(
            F.sum(
                F.when(
                    F.coalesce("n", F.lit(-1)) == F.coalesce("n_direct", F.lit(-2)),
                    0,
                ).otherwise(1)
            ).alias("n_mismatch")
        )
    )
    w = Window.partitionBy("win_start").orderBy("bin")
    w_tot = Window.partitionBy("win_start")
    cdf = streamed.withColumn("cum", F.sum("n").over(w)).withColumn(
        "tot", F.sum("n").over(w_tot)
    )
    med_bin = (
        cdf.filter(F.col("cum").cast("double") >= 0.5 * F.col("tot").cast("double"))
        .groupBy("win_start")
        .agg(F.min("bin").alias("mbin"))
    )
    rank_chk = (
        direct.join(med_bin, "win_start")
        .groupBy("win_start")
        .agg(
            F.sum(
                F.when(F.col("bin") < F.col("mbin"), F.col("n_direct")).otherwise(0)
            ).alias("n_lt"),
            F.sum(
                F.when(F.col("bin") <= F.col("mbin"), F.col("n_direct")).otherwise(0)
            ).alias("n_le"),
            F.sum("n_direct").alias("n_all"),
        )
    )
    half_up = F.floor((F.col("n_all") + 1) / 2)  # ceil(n/2), integer
    return (
        exact.join(rank_chk, "win_start", "left")
        .join(mism, "win_start", "left")
        .select(
            "win_start",
            F.round("exact_raw", 6).alias("exact_p50"),
            F.coalesce(
                (F.col("n_lt") < half_up) & (F.col("n_le") >= half_up), F.lit(True)
            ).alias("median_rank_in_bin"),
            F.coalesce(F.col("n_mismatch") == 0, F.lit(True)).alias(
                "stream_cells_equal_direct"
            ),
        )
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# Stateful per-user rate limiting (round 10 continuation)
# --------------------------------------------------------------------------
#: fixed-window rate limit: first K events per (user, minute) are allowed
_RATE_K = 3
RATE_STATE_SCHEMA = "cur_minute LONG, used LONG"
RATE_OUTPUT = "event_id LONG, user_id LONG, allowed BOOLEAN"


def stream_rate_limit_live(events: DataFrame) -> DataFrame:
    """Per-user fixed-window RATE LIMITING as a custom stateful operator —
    the ingest-guard every event collector runs: the first _RATE_K events
    per (user, minute) pass, the rest are flagged denied.  State is two
    longs per user (current minute epoch + used slots) — O(users),
    independent of event volume, exactly what a token-bucket service
    keeps in its hot store.

    Decisions are VECTORIZED inside each Arrow group (minute-bucketed
    cumcount + carry-in from state — no per-row Python): rows sort by
    (ts, event_id) within the batch, the first minute's count carries in
    from state, and the state stores the last minute's usage for the next
    micro-batch.  Semantics are arrival-order per user (what a real rate
    limiter sees); the replay is deterministic because the file source
    drains in one availableNow batch per file."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        cur_minute, used = state.get if state.exists else (-1, 0)
        # A micro-batch may deliver one key's rows as SEVERAL Arrow chunks
        # whose (ts, event_id) ranges interleave; sorting each chunk
        # independently would reset the carry-in mid-minute and over-grant
        # (ADVICE r10).  Concatenate and sort ONCE per key per batch.
        chunks = list(pdfs)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(pdf):
            pdf = pdf.sort_values(["ts", "event_id"])
            # unit-proof: Arrow may hand datetime64[ns] or [us] depending on
            # the pandas/pyarrow pairing — normalize to ns before bucketing
            minutes = (
                pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
                // 60_000_000_000
            )
            within = pd.Series(minutes).groupby(minutes).cumcount().to_numpy()
            carry = np.where(minutes == cur_minute, used, 0)
            allowed = (within + carry) < _RATE_K
            last_m = int(minutes[-1])
            in_last = minutes == last_m
            last_used = int(allowed[in_last].sum()) + (
                used if last_m == cur_minute else 0
            )
            cur_minute, used = last_m, last_used
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": np.full(len(pdf), key[0], dtype="int64"),
                    "allowed": allowed,
                }
            )
        state.update((int(cur_minute), int(used)))

    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RATE_OUTPUT,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query(
    "stream_rate_limit_live",
    oracle=f"""
    WITH decided AS (
        SELECT user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, CAST(epoch_us(ts) AS BIGINT) // 60000000
                   ORDER BY ts, event_id
               ) <= {_RATE_K} AS allowed
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
           CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) AS n_denied
    FROM decided GROUP BY user_id ORDER BY user_id
    """,
)
def q_stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful rate limiter (applyInPandasWithState): per-event
    allow/deny decisions drain through the state store, then roll up per
    user.  The oracle replays the SAME fixed-window rule as a batch
    row_number over (user, minute) — every per-event decision the stream
    made is therefore differentially verified in aggregate."""
    out = run_available_now(
        stream_rate_limit_live(events_stream(spark, sf_dir)),
        "q_rate_limit",
        "update",
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("allowed"), 1).otherwise(0)).alias("n_allowed"),
            F.sum(F.when(F.col("allowed"), 0).otherwise(1)).alias("n_denied"),
        )
        .orderBy("user_id")
    )
