"""Incremental-maintenance (lakehouse) operators (SURVEY §2.13).

A user of the reference loads files into Postgres tables; at warehouse scale
the same job becomes snapshot maintenance: apply a change stream to a base
table (MERGE / upsert) and keep dimension history (SCD type 2).  Spark has
no MERGE INTO on plain parquet, but both semantics are window + join
compositions that Catalyst plans as ordinary shuffles — these queries pin
that layout and its oracle.

Scale notes: both operators shuffle once on the merge key (user/customer),
which is the canonical MERGE layout — change capture is aggregated to one
row per key BEFORE the join (WindowGroupLimit keeps per-partition state at
k=1), so the join input is bounded by |keys|, not |changes|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_postgis_spark.catalog import table
from duckdb_postgis_spark.registry import query


@query(
    "upsert_latest_wins",
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
def upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert (the MERGE INTO shape): the newest purchase event
    per user overwrites the customer's balance; untouched keys keep the
    base row.  Change side is deduped to one row per key with a
    deterministic (ts, event_id) tie-break BEFORE the join.

    Scale: row_number-rank-1 compiles to WindowGroupLimit (per-partition
    top-1 state, no full sort), then one hash-shuffle join on the merge
    key — |keys| rows meet |keys| rows, never |changes| rows. This is the
    exact plan a Delta/Iceberg MERGE lowers to for unpartitioned tables."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("new_bal"),
        )
    )
    cust = table(spark, sf_dir, "customer")
    return (
        cust.join(latest, cust.c_custkey == latest.user_id, "left")
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("base_bal"),
            "last_event_id",
            "last_ts",
            F.coalesce("new_bal", "c_acctbal").alias("effective_bal"),
        )
    )


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, event_id, value AS bal, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY user_id, valid_from, event_id
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history: each purchase event opens a validity
    interval [valid_from, valid_to) per user; the open-ended row is flagged
    current.  The standard dimension-history build of a warehouse load.

    Scale: one lead() window partitioned by the dimension key — a single
    hash shuffle; interval construction is per-key-local, so skew is
    bounded by the hottest key's change count, not corpus size."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("value").alias("bal"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        )
    )


# --------------------------------------------------------------------------
# Incremental (algebraic) aggregate maintenance — round 5
# --------------------------------------------------------------------------
@query(
    "incremental_agg_merge",
    oracle="""
    WITH hist AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS s,
               MIN(value) AS mn, MAX(value) AS mx
        FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY 1, 2
    ),
    delta AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
               COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS s,
               MIN(value) AS mn, MAX(value) AS mx
        FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY 1, 2
    )
    SELECT day, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(s) AS DOUBLE) AS sum_value,
           MIN(mn) AS min_value,
           MAX(mx) AS max_value,
           CAST(SUM(s) AS DOUBLE) / SUM(n) AS avg_value
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM delta)
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (the continuous-aggregate /
    materialized-rollup refresh shape): daily per-type stats exist for the
    historical region; a delta batch arrives; the rollup is refreshed by
    MERGING partial aggregates algebraically — count and decimal-sum add,
    min/max combine, avg re-derives from (sum, n) — never by re-scanning
    history.  Sums stay in exact DECIMAL until the single final double
    conversion, so the merged result is bit-identical to a full recompute
    (which is exactly what the oracle computes).

    Scale: this is THE pattern that makes 100 TB rollups maintainable —
    the merge shuffles |days × types| partial rows, not |events|; history
    is never re-read (here both sides derive from one table to keep the
    oracle self-contained, but the hist branch stands in for a stored
    aggregate snapshot)."""
    from duckdb_postgis_spark.functions.num import MONEY

    ev = table(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(MONEY)).alias("s"),  # stays DECIMAL: exact merge
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    hist = partial(ev.filter(F.col("ts") < split))
    delta = partial(ev.filter(F.col("ts") >= split))
    merged = (
        hist.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
        (F.col("s").cast("double") / F.col("n")).alias("avg_value"),
    ).orderBy("day", "event_type")


# --------------------------------------------------------------------------
# Point-in-time join against SCD2 history (round 5)
# --------------------------------------------------------------------------
@query(
    "join_scd2_point_in_time",
    oracle="""
    WITH h AS (
        SELECT user_id, event_id AS dim_event_id, value AS bal,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id, v.user_id, v.ts, h.dim_event_id, h.bal
    FROM v LEFT JOIN h
      ON v.user_id = h.user_id
     AND h.valid_from <= v.ts
     AND (h.valid_to IS NULL OR v.ts < h.valid_to)
    ORDER BY v.event_id
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each fact row (view event) looks up
    the SCD2 dimension version valid AT ITS OWN timestamp — the
    feature-store / audit lookup that prevents feature leakage (a view
    must see the balance as of then, never a later one).  Views before
    any purchase keep NULL attributes (left join).  SCD2 intervals
    partition time per key, so each fact matches at most one version.

    Scale: an equi-join on the dimension key with the validity range as a
    residual predicate — one hash shuffle on user_id; per-key interval
    lists are bounded by that key's change count, so the residual scan is
    small and skew follows the hottest key's churn, not corpus size.  The
    as-of union-merge rewrite (join_asof) is the alternative when the
    dimension churns too fast to keep intervals."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    h = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("h_user"),
            F.col("event_id").alias("dim_event_id"),
            F.col("value").alias("bal"),
            F.col("ts").alias("valid_from"),
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("h_user").orderBy("valid_from", "dim_event_id")
            ),
        )
    )
    v = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    cond = (
        (v.user_id == h.h_user)
        & (h.valid_from <= v.ts)
        & (h.valid_to.isNull() | (v.ts < h.valid_to))
    )
    return (
        v.join(h, cond, "left")
        .select("event_id", "user_id", "ts", "dim_event_id", "bal")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# CDC changelog apply with delete semantics (round 10 continuation)
# --------------------------------------------------------------------------
@query(
    "lakehouse_cdc_apply",
    oracle="""
    WITH chg AS (
        SELECT user_id, ts, event_id, value,
               CASE event_type WHEN 'signup'   THEN 'I'
                               WHEN 'purchase' THEN 'U'
                               WHEN 'error'    THEN 'D' END AS op
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'error')
    ),
    last AS (
        SELECT user_id, op AS final_op, ts AS change_ts, value AS new_bal
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM chg
        ) t WHERE rn = 1
    )
    SELECT COALESCE(c.c_custkey, last.user_id) AS entity_key,
           c.c_acctbal AS base_bal,
           last.final_op,
           last.change_ts,
           CASE WHEN last.final_op IN ('I', 'U') THEN last.new_bal
                ELSE c.c_acctbal END AS effective_bal
    FROM customer c FULL OUTER JOIN last ON c.c_custkey = last.user_id
    WHERE last.final_op IS NULL OR last.final_op <> 'D'
    ORDER BY entity_key
    """,
)
def lakehouse_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog (insert/update/DELETE ops) to a base snapshot
    — the Debezium→lakehouse MERGE that `upsert_latest_wins` only half
    covers: a key whose LAST change is a delete vanishes from the new
    snapshot; a key last inserted/updated takes the change's value; keys
    the changelog never touched keep their base row; changelog keys absent
    from the base appear as fresh inserts (base_bal NULL).  Ops derive
    from event_type (signup→I, purchase→U, error→D) and replay order is
    the deterministic (ts, event_id) — only the FINAL op per key decides,
    which is exactly Delta/Iceberg MERGE semantics after changelog
    compaction.

    Scale: change capture compacts to one row per key BEFORE the join
    (row_number rank-1 = WindowGroupLimit, per-partition top-1 state, no
    full sort), then ONE full-outer hash join on the merge key — |keys|
    meets |keys|, never |changes|.  The delete filter is a post-join
    predicate on the compacted side, so tombstones cost nothing extra.
    This is the plan a MERGE INTO with WHEN MATCHED DELETE lowers to."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase", "error")
    )
    chg = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .otherwise("D")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        chg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("op").alias("final_op"),
            F.col("ts").alias("change_ts"),
            F.col("value").alias("new_bal"),
        )
    )
    cust = table(spark, sf_dir, "customer")
    joined = cust.join(last, cust.c_custkey == last.user_id, "full_outer")
    return (
        joined.filter(F.col("final_op").isNull() | (F.col("final_op") != "D"))
        .select(
            F.coalesce("c_custkey", "user_id").alias("entity_key"),
            F.col("c_acctbal").alias("base_bal"),
            "final_op",
            "change_ts",
            F.when(F.col("final_op").isin("I", "U"), F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("effective_bal"),
        )
        .orderBy("entity_key")
    )
