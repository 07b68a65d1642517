"""Structured Streaming S1-S5 validated against their batch twins.

The batch twins in operators/streaming.py are DuckDB-oracle-checked by the
driver; these tests close the loop by replaying the same events parquet
through readStream + Trigger.AvailableNow and asserting the streaming output
matches the twin (SURVEY.md §2.9 'validated against these twins').
"""

from __future__ import annotations

import pytest

from duckdb_postgis_spark.operators.streaming import (
    stream_dedup,
    stream_session,
    stream_tumbling,
)
from duckdb_postgis_spark.streaming import (
    events_stream,
    run_available_now,
    stream_dedup_live,
    stream_session_live,
    stream_sliding_live,
    stream_tumbling_live,
    stream_user_state_live,
    stream_watermark_late_live,
)

SF = "/root/testdata/sf0.001"


def rows(df, cols):
    return sorted(tuple(map(str, r)) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def ev(spark):
    return events_stream(spark, SF)


def test_tumbling_matches_batch_twin(spark, ev):
    out = run_available_now(stream_tumbling_live(ev), "t_tumbling", "update")
    twin = stream_tumbling(spark, SF)
    cols = ["win_start", "event_type", "n", "sum_value"]
    assert rows(out, cols) == rows(twin, cols)


def test_sliding_matches_batch_twin(spark, ev):
    from duckdb_postgis_spark.operators.streaming import stream_sliding

    out = run_available_now(stream_sliding_live(ev), "t_sliding", "update")
    twin = stream_sliding(spark, SF)
    cols = ["win_start", "n"]
    assert rows(out, cols) == rows(twin, cols)


def test_session_matches_batch_twin(spark, ev):
    out = run_available_now(stream_session_live(ev), "t_session", "append")
    twin = stream_session(spark, SF)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    got, want = rows(out, cols), rows(twin, cols)
    # append mode withholds sessions still open at the final watermark
    # (last events within gap+watermark of max ts); everything emitted must
    # match the twin exactly and cover all but that tail.
    assert set(got) <= set(want)
    assert len(got) >= len(want) * 0.9, (len(got), len(want))


def test_watermark_hourly_counts_total(spark, ev):
    out = run_available_now(
        stream_watermark_late_live(ev), "t_watermark", "update"
    )
    # file replay is a single micro-batch: nothing is late, so hourly counts
    # must equal the plain batch rollup.
    from duckdb_postgis_spark.catalog import table
    from pyspark.sql import functions as F

    batch = (
        table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("win_start"))
        .agg(F.count("*").alias("n"))
    )
    cols = ["win_start", "n"]
    assert rows(out, cols) == rows(batch, cols)


def test_dedup_live_keys_match_twin(spark, ev):
    out = run_available_now(stream_dedup_live(ev), "t_dedup", "append")
    twin = stream_dedup(spark, SF)
    keys = ["user_id", "event_type", "minute_bucket"]
    # one survivor per key, same key set as the oracle-checked twin
    assert out.count() == out.select(*keys).distinct().count()
    assert rows(out, keys) == rows(twin, keys)


def test_user_state_running_totals(spark, ev):
    out = run_available_now(stream_user_state_live(ev), "t_state", "update")
    from duckdb_postgis_spark.catalog import table
    from pyspark.sql import functions as F

    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    # single micro-batch → final state per user equals the batch aggregate;
    # keep only the last emission per user for robustness to multi-batch runs.
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    a = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in final.collect()}
    b = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in batch.collect()}
    assert a == b


def test_upsert_merge_slicing_invariant(spark, sf_dir):
    """The foreachBatch MERGE is commutative over (ts, event_id): folding the
    change stream through upsert_merge in 3 slices — even in a shuffled
    slice order — equals the one-shot batch upsert."""
    from pyspark.sql import functions as F

    from duckdb_postgis_spark.catalog import table
    from duckdb_postgis_spark.operators.lakehouse import upsert_latest_wins
    from duckdb_postgis_spark.streaming.streams import upsert_merge

    snap = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("base_bal"),
        F.lit(None).cast("long").alias("last_event_id"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.col("c_acctbal").alias("effective_bal"),
    )
    ev = table(spark, sf_dir, "events")
    for k in (2, 0, 1):  # deliberately out-of-order slices
        snap = upsert_merge(snap, ev.filter(F.col("event_id") % 3 == k))
    got = sorted(map(str, snap.collect()))
    want = sorted(map(str, upsert_latest_wins(spark, sf_dir).collect()))
    assert got == want


def test_chained_dedup_agg_matches_batch_twin(spark, sf_dir):
    """The chained dedup→agg stream equals the batch distinct-minute rollup
    computed in Spark (independent of the DuckDB oracle)."""
    from pyspark.sql import functions as F

    from duckdb_postgis_spark import registry
    from duckdb_postgis_spark.catalog import table

    registry.load_all()
    got = sorted(
        map(str, registry.QUERIES["stream_chained_dedup_agg"](spark, sf_dir).collect())
    )
    ev = table(spark, sf_dir, "events")
    want = sorted(
        map(
            str,
            ev.select(
                "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
            )
            .distinct()
            .groupBy(F.date_trunc("hour", "m").alias("win_start"), "event_type")
            .agg(F.count("*").alias("n_first"))
            .orderBy("win_start", "event_type")
            .collect(),
        )
    )
    assert got == want
