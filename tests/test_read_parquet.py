"""``catalog.read_parquet``: the driver-side footer read declares exactly
the schema Spark's inference job would infer, and registering the
catalog launches no Spark job.

Every case compares against ``spark.read.parquet`` on the same paths
under the same session conf: the ten catalog tables, both physical
encodings ``events.ts`` has shipped in, Spark-written files and part
directories, hive-partitioned directories and a list of files.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from duckdb_postgis_spark import catalog
from duckdb_postgis_spark.session import session_conf


def _same_schema(spark, *paths):
    got = catalog.read_parquet(spark, *paths)
    want = spark.read.parquet(*paths)
    # StructType equality covers names, types, nullability and metadata
    assert got.schema == want.schema
    return got


@pytest.mark.parametrize("name", catalog.TABLES)
def test_catalog_tables(spark, sf_dir, name):
    with session_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        _same_schema(spark, f"{sf_dir}/{name}.parquet")


def _events_table(ts_type) -> pa.Table:
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(minutes=i) for i in range(6)]
    return pa.table(
        {
            "event_id": pa.array(range(6), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")).cast(ts_type),
            "event_type": pa.array(["a", "b"] * 3),
        }
    )


def test_events_ts_micros(spark, tmp_path):
    p = str(tmp_path / "events.parquet")
    pq.write_table(_events_table(pa.timestamp("us")), p)
    df = _same_schema(spark, p)
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"


def test_events_ts_nanos_as_long(spark, tmp_path):
    p = str(tmp_path / "events.parquet")
    pq.write_table(_events_table(pa.timestamp("ns")), p, version="2.6")
    with session_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        df = _same_schema(spark, p)
        assert df.schema["ts"].dataType.typeName() == "long"
        assert catalog.rebuild_events_ts(df).count() == 6


def test_events_ts_plain_int64(spark, tmp_path):
    p = str(tmp_path / "events.parquet")
    pq.write_table(_events_table(pa.int64()), p)
    _same_schema(spark, p)


def test_spark_written_file_and_part_directory(spark, sf_dir, tmp_path):
    out = str(tmp_path / "docs")
    catalog.table(spark, sf_dir, "documents").repartition(3).write.parquet(out)
    assert os.path.exists(f"{out}/_SUCCESS")
    parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    _same_schema(spark, out)
    _same_schema(spark, f"{out}/{parts[-1]}")


def test_hive_partitioned_directories(spark, sf_dir, tmp_path):
    ev = str(tmp_path / "events_by_type")
    (
        catalog.table(spark, sf_dir, "events")
        .write.partitionBy("event_type")
        .parquet(ev)
    )
    df = _same_schema(spark, ev)
    assert df.columns[-1] == "event_type"
    docs = str(tmp_path / "docs_by_lang")
    pq.write_to_dataset(
        pq.read_table(f"{sf_dir}/documents.parquet"), docs, partition_cols=["lang"]
    )
    df = _same_schema(spark, docs)
    assert df.columns[-1] == "lang"


def test_file_list(spark, tmp_path):
    """Files whose schemas differ: without mergeSchema Spark takes the
    first file in sorted path order, not the first path given."""
    paths = []
    for i in range(3):
        p = str(tmp_path / f"part-{2 - i}.parquet")
        t = _events_table(pa.timestamp("us"))
        pq.write_table(t.append_column(f"extra_{i}", pa.array([i] * 6)), p)
        paths.append(p)
    assert _same_schema(spark, *paths).columns[-1] == "extra_2"
    _same_schema(spark, *reversed(paths))
    _same_schema(spark, paths[0], str(tmp_path))


def test_no_file_keeps_spark_errors(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        catalog.read_parquet(spark, str(tmp_path / "missing.parquet"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        catalog.read_parquet(spark, str(empty))


def test_catalog_registration_launches_no_job(spark, sf_dir, monkeypatch):
    """Registering the ten tables and taking their schemas runs on the
    driver: zero Spark jobs (Spark's inference runs one per table)."""
    monkeypatch.setattr(catalog, "_TABLE_CACHE", {})
    sc = spark.sparkContext
    group = "catalog-registration-jobs"
    sc.setJobGroup(group, "load_tables")
    try:
        for df in catalog.load_tables(spark, sf_dir).values():
            _ = df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
