"""The one SparkSession builder, with scale-appropriate defaults.

The reference opens an in-memory DuckDB per job (``core_processor.rs:67``);
our equivalent of "the engine" is a configured SparkSession.  Defaults are
chosen for correctness-stability of the DuckDB-oracle comparison (UTC session
timezone, Arrow enabled) and for performance at both test scale and cluster
scale (AQE on, partition coalescing, broadcast threshold).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "duckdb-postgis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session: ``app_name`` on ``master`` with the
    confs in ``conf``.  This is the repository's one session builder;
    the bench passes ``bench_conf``, the driver replica an empty mapping
    (a plain session, as the driver builds it).

    Without ``conf`` the engine defaults apply (``shuffle_partitions``
    sets their shuffle width):

    - AQE: runtime re-plan, partition coalescing, skew-join handling — the
      100 TB story relies on these instead of hand-tuned partition counts.
    - Arrow: vectorized exchange for the pandas-UDF operators (geo transforms,
      grouped text analysis, block-matmul similarity).
    - UTC session timezone: testdata timestamps are naive; pinning UTC keeps
      Spark and the DuckDB oracle byte-identical on date_trunc/extract.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if conf is None:
        if shuffle_partitions is None:
            shuffle_partitions = int(
                os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
            )
        conf = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.session.timeZone": "UTC",
            # INT96 (the legacy default) carries NO parquet min/max
            # statistics, which silently disables timestamp
            # row-group/file skipping on every table this engine writes;
            # MICROS is the modern cross-engine encoding (matches the
            # driver testdata)
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.driver.maxResultSize": "4g",
            "spark.ui.enabled": "false",
        }
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=dict(conf))
        .getOrCreate()
    )


def bench_conf(cpus: str) -> dict[str, str]:
    """The bench session's confs, tuned for sub-GB data on ``local[cpus]``.

    AQE's stage barriers only add latency at ms scale, an 8-way shuffle
    covers the tiny aggregate exchanges (sort-heavy operators pin their
    own shuffle width to core count), and 1 MB file splits let the
    multi-row-group scan layout fan each table scan across the cores
    (the 128 MB default would put a 10 MB table in ONE task).  At
    cluster scale the engine defaults of ``get_spark`` apply instead."""
    return {
        # the FIRST session of a process launches the JVM and fixes the
        # driver heap for the whole process: bench.py's sf1-shape section
        # (10x data, single local JVM) needs more than the 1g default,
        # and a later session cannot raise it
        "spark.driver.memory": "8g",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "1048576",
        "spark.sql.files.openCostInBytes": "32768",
        # split small compute-heavy files (documents: ~0.5 MB holding a
        # seconds-scale text stage) across cores — bytesPerCore from
        # this floor, not the byte-size default
        "spark.sql.files.minPartitionNum": cpus,
        "spark.locality.wait": "0",
        "spark.ui.enabled": "false",
    }


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the body of a ``with`` block, then restore
    the previous value (or unset the key if it had none)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def shuffle_width(spark: SparkSession) -> int:
    """max(configured shuffle partitions, cores): the width a compute-heavy
    exchange is pinned to, so it never runs with fewer tasks than cores
    and on a cluster the configured width wins.  A non-integer conf
    ("auto" under AQE) counts as 0.  NO default arg on the conf get:
    Spark 4 validates explicit defaults against the conf requirement."""
    try:
        shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_n = 0
    return max(shuffle_n, spark.sparkContext.defaultParallelism)


#: one-deep persist ledger: the frames each owner's previous call cached
_LEDGER: dict[str, list[DataFrame]] = {}


def release(owner: str) -> None:
    """Unpersist what ``owner``'s previous call left cached, so no call
    reuses a prior call's computation through the CacheManager.  Only
    ``Py4JError`` is swallowed: it means the frame belongs to an
    already-stopped session, whose cache died with it.  Contract:
    sequential single-threaded use — a call's frames must be consumed
    before the owner's next call releases them."""
    frames = _LEDGER.get(owner, [])
    while frames:
        try:
            frames.pop().unpersist(blocking=False)
        except Py4JError:
            pass


def keep(owner: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (unless it already is) and record it for
    ``owner``'s next ``release``."""
    if not df.is_cached:
        df = df.persist()
    _LEDGER.setdefault(owner, []).append(df)
    return df
