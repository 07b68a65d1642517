"""Streaming operator surface S1-S5 as deterministic batch twins (SURVEY §2.9).

The reference has no streaming at all; this is our declared extension over the
``events`` table.  Each query here is the *batch twin* — the exact relational
semantics the Structured Streaming versions (streaming/streams.py) must
reproduce, and what the DuckDB oracle can check.  The streaming variants are
validated against these twins in tests via Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_postgis_spark.catalog import table
from duckdb_postgis_spark.functions.num import sql_dsum
from duckdb_postgis_spark.functions.order import sorted_small
from duckdb_postgis_spark.registry import query


# --------------------------------------------------------------------------
# S1 tumbling window
# --------------------------------------------------------------------------
@query(
    "stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY win_start, event_type
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window count/sum per event_type (SURVEY S1; baseline
    'events hourly rollup'). F.window's hour-aligned start == date_trunc.
    Scale: windowed partial agg → shuffle of |windows|×|types| rows only; in
    streaming mode state is per-window and watermark-evicted."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.expr(sql_dsum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
        .transform(sorted_small, "win_start", "event_type")
    )


# --------------------------------------------------------------------------
# S2 sliding window
# --------------------------------------------------------------------------
@query(
    "stream_sliding",
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
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window 1 hour / slide 15 min (SURVEY S2): each event lands in
    4 windows; F.window explodes them natively. The oracle reconstructs the
    same windows with epoch-grid arithmetic. Scale: 4× row amplification
    map-side, collapsed by partial agg before the shuffle."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# S3 session window
# --------------------------------------------------------------------------
@query(
    "stream_session",
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
    ORDER BY user_id, session_start
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap (SURVEY S3) via F.session_window —
    Spark's native session semantics (end = last event + gap) checked against
    a gaps-and-islands SQL oracle. Scale: sessionization shuffles once on
    user_id; streaming mode keeps per-user session state with watermark
    eviction."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# S4 watermark late-data drop (simulated deterministically)
# --------------------------------------------------------------------------
@query(
    "stream_watermark_late",
    oracle="""
    WITH arr AS (
        SELECT ts, event_id,
               MAX(ts) OVER (ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_seen
        FROM events
    )
    SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n
    FROM arr
    WHERE max_seen IS NULL OR ts >= max_seen - INTERVAL 10 MINUTE
    GROUP BY date_trunc('hour', ts)
    ORDER BY win_start
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics replayed deterministically (SURVEY S4): arrival
    order = event_id; an event is late (dropped) if its event time is more
    than 10 min behind the max event time already seen — exactly Spark's
    ``withWatermark`` eviction rule. The true streaming variant lives in
    streaming/streams.py.

    Scale: the global running max is a distributed two-level prefix scan,
    not a single-partition window: (1) per-chunk running max under a
    PARTITIONED window (chunk = event_id DIV 8192 — arrival order is
    preserved inside each chunk), (2) per-chunk maxima (rows/8192 of them)
    get a tiny prefix-max window and broadcast back, (3) max_seen =
    greatest(previous-chunk prefix, intra-chunk running max). Identical
    values to the naive global window; the only ordered single-partition
    work is over the chunk summary (1e12 events -> 1e8 rows; recurse the
    same scan for another /8192 if that ever matters)."""
    ev = table(spark, sf_dir, "events")
    chunk = F.floor(F.col("event_id") / 8192).alias("chunk")
    ev = ev.withColumn("chunk", chunk)
    w_intra = (
        Window.partitionBy("chunk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summary = ev.groupBy("chunk").agg(F.max("ts").alias("chunk_max"))
    w_prefix = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    prev = summary.select(
        "chunk", F.max("chunk_max").over(w_prefix).alias("prev_chunk_max")
    )
    arr = ev.join(F.broadcast(prev), "chunk").withColumn(
        "max_seen", F.greatest(F.max("ts").over(w_intra), F.col("prev_chunk_max"))
    )
    return (
        arr.filter(
            F.col("max_seen").isNull()
            | (F.col("ts") >= F.col("max_seen") - F.expr("INTERVAL 10 MINUTES"))
        )
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.count("*").alias("n"))
        .orderBy("win_start")
    )


# --------------------------------------------------------------------------
# S5 stateful dedup
# --------------------------------------------------------------------------
@query(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, date_trunc('minute', ts) AS minute_bucket,
           MIN(event_id) AS first_event_id, COUNT(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type, date_trunc('minute', ts)
    ORDER BY user_id, event_type, minute_bucket
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup on (user, type, minute) keeping the first event_id
    (SURVEY S5 — batch twin of streaming dropDuplicates within watermark).
    Scale: dedup state is the group key set; in streaming,
    dropDuplicatesWithinWatermark bounds it by event time."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", "event_type", F.date_trunc("minute", "ts").alias("minute_bucket")
        )
        .agg(F.min("event_id").alias("first_event_id"), F.count("*").alias("n_dupes"))
        .orderBy("user_id", "event_type", "minute_bucket")
    )
