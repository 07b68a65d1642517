"""``readers.read_csv`` on a file within one file split: the driver-side
parse declares exactly the schema Spark's inference jobs infer, the CRS
probes and ``process_file`` give the job path's verdicts and rows, and
nothing but the write launches a Spark job.

Every case compares against the same call with the driver-side parse
switched off (``_SmallCsv.open`` returning None, which is the path of a
file over the split size) under the same session: the perfbench geo
corpus, the CSV files of ``tests/test_pipeline.py`` and edge files for
the line reader, the tokenizer and each inferred type.
"""

from __future__ import annotations

import math
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import DoubleType

from duckdb_postgis_spark import pipeline
from duckdb_postgis_spark.session import session_conf
from duckdb_postgis_spark.sources import readers
from test_pipeline import CSV_FILES

#: edge files, by name: line ends and blank lines, header handling,
#: tokenizer cases and one column of each inferred type
EDGE_FILES = {
    "utf8_bom": "﻿id,longitude,latitude\n1,2.5,3.5\n2,-1.5,4.5\n".encode(),
    "utf8_bom_blank_line": b"\xef\xbb\xbf\nid,x,y\n1,2,3\n",
    "crlf": b"id,x,y\r\n1,2,3\r\n4,5,6\r\n",
    "lone_cr": b"id,x,y\r1,2,3\r4,5,6",
    "blank_lines": b"\n  \nid,x,y\n\n1,2,3\n \t \n4,5,6\n   \n",
    "tab_first_line": b"\t\nid,x\n1,2\n",
    "repeated_header": b"id,x,y\n1,2,3\nid,x,y\n4,5,6\n",
    "short_and_long_rows": b"id,lon,lat\n1,2\n3,4,5,6\n7,8,9\n,1,2\n",
    "quoted_delimiter": b'id,name,x\n1,"a,b",2.5\n2,"c",3\n',
    "quoted_newline": b'id,note,x\n1,"line1\nline2",2\n3,ok,4\n',
    "malformed_utf8": b"id,name,x\n1,\xff\xfe,2\n2,caf\xc3,3\n3,\xe2\x82\n4,\xe2\x82\r\n",
    "empty_column": b"id,empty,x\n1,,2\n3,,4\n",
    "beyond_long": b"id,big\n1,12345678901234567890\n2,99999999999999999999999\n",
    "dates": b"id,d\n1,2024-01-02\n2,2024-12-31\n",
    "timestamps": b"id,ts\n1,2024-01-02 03:04:05\n2,2024-01-02T03:04:05.123\n",
    "booleans": b"id,b\n1,true\n2,FALSE\n3,\n",
    "nulls_and_nan": b"id,lon,lat\n1,,5\n2,1e2,\n3,-0.5,45\n4,NaN,1\n5,Infinity,2\n",
    "mixed_numbers": b"id,x,y\n1,2,3\n2,2.5,30000000000\n",
    "text_coordinates": b"id,longitude,latitude\n1,east,2\n2,3,4\n",
    "crs_column": b"id,longitude,latitude,crs_epsg\n1,500000,200000,\n2,510000,210000,27700\n",
    "unsafe_header": b",x,x\n1,2,3\n",
    "header_only": b"id,x,y\n",
    "empty": b"",
}


@pytest.fixture(scope="module")
def corpus_csvs(tmp_path_factory) -> list[Path]:
    """The benchmark's geo corpus CSVs, written by its own generator."""
    from perfbench import datagen

    out = tmp_path_factory.mktemp("geo_corpus")
    truth = datagen.write_geo_corpus(str(out), seed=0)
    return [Path(t["path"]) for t in truth if t["path"].endswith(".csv")]


def _same(a, b) -> bool:
    """Row-list equality with NaN equal to NaN."""
    return repr(a) == repr(b) or (
        len(a) == len(b)
        and all(
            len(r) == len(s)
            and all(x == y or (_nan(x) and _nan(y)) for x, y in zip(r, s))
            for r, s in zip(a, b)
        )
    )


def _nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _outcome(fn):
    """``fn()``'s value, or the fact that it raised (the two paths wrap a
    task's error differently)."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - only the fact is compared
        return "raised"


def _process(spark, path: Path, sink: Path):
    def run():
        res = pipeline.process_file(spark, str(path))
        res.dataframe.write.mode("overwrite").parquet(str(sink))
        rows = pq.read_table(str(sink)).to_pylist()
        return (res.file_type, res.geom_columns, res.coordinate_pair, res.source_crs, rows)

    return _outcome(run)


def _check(spark, path: Path, tmp_path: Path) -> None:
    got = readers.read_csv(spark, str(path))
    assert got in readers._SMALL_CSV, "file took Spark's inference path"
    want = spark.read.options(**readers._CSV_OPTIONS).csv(str(path))
    # StructType equality covers names, types, nullability and metadata
    assert got.schema == want.schema
    assert _same(got.collect(), want.collect())
    # the probes over each column next to its neighbour
    cols = got.columns
    pairs = list(zip(cols, cols[1:] + cols[:1]))
    mine = {}
    for x, y in pairs:
        mine[x, y] = (
            _outcome(lambda: readers.csv_probe(got, [x, y], 10)),
            _outcome(lambda: pipeline.infer_crs_from_xy(got, x, y)),
        )
    mine["crs"] = _outcome(lambda: pipeline.metadata_crs(got))
    mine["process"] = _process(spark, path, tmp_path / "driver")
    theirs = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(readers._SmallCsv, "open", classmethod(lambda cls, spark, path: None))
        for x, y in pairs:
            probe = want.filter(want[x].isNotNull() & want[y].isNotNull()).select(x, y)
            theirs[x, y] = (
                _outcome(lambda: probe.limit(10).collect()),
                _outcome(lambda: pipeline.infer_crs_from_xy(want, x, y)),
            )
        theirs["crs"] = _outcome(lambda: pipeline.metadata_crs(want))
        theirs["process"] = _process(spark, path, tmp_path / "jobs")
    for key in theirs:
        a, b = mine[key], theirs[key]
        if key == "process" and a != "raised" and b != "raised":
            assert a[:4] == b[:4] and _same(
                [tuple(r.values()) for r in a[4]], [tuple(r.values()) for r in b[4]]
            ), key
        elif isinstance(key, tuple):
            assert _same(a[0], b[0]) if "raised" not in (a[0], b[0]) else a[0] == b[0], key
            assert a[1] == b[1], key
        else:
            assert a == b, key


@pytest.mark.parametrize("name", sorted(EDGE_FILES))
def test_edge_files(spark, tmp_path, name):
    path = tmp_path / f"{name}.csv"
    path.write_bytes(EDGE_FILES[name])
    _check(spark, path, tmp_path)


@pytest.mark.parametrize("name", sorted(CSV_FILES))
def test_pipeline_test_files(spark, tmp_path, name):
    path = tmp_path / name
    path.write_text(CSV_FILES[name])
    _check(spark, path, tmp_path)


def test_geo_corpus(spark, tmp_path, corpus_csvs):
    assert len(corpus_csvs) >= 3
    for path in corpus_csvs:
        _check(spark, path, tmp_path / path.stem)


def test_probe_casts_like_spark(spark, tmp_path):
    """``csv_probe`` keeps the asked column order and casts through
    Spark's ``Cast``: an integer column comes back as a double."""
    path = tmp_path / "order.csv"
    path.write_text("latitude,id,longitude\n1,7,2\n,8,3\n4,9,5\n")
    df = readers.read_csv(spark, str(path))
    rows = readers.csv_probe(df, ["longitude", "latitude"], 10, DoubleType())
    assert [tuple(r) for r in rows] == [(2.0, 1.0), (5.0, 4.0)]
    assert readers.csv_probe(spark.range(3).toDF("x"), ["x"], 10) is None


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "conf", ["spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes"]
)
def test_split_size_gate(spark, tmp_path, conf):
    """A file at the split size runs no job before the write and one job
    with it; a file one byte over runs Spark's inference jobs."""
    path = tmp_path / "lonlat.csv"
    path.write_text("id,longitude,latitude\n" + "".join(f"{i},{i % 90}.5,{i % 45}.25\n" for i in range(50)))
    size = path.stat().st_size

    def verdicts():
        return pipeline.process_file(spark, str(path))

    with session_conf(spark, conf, str(size)):
        res = None

        def run():
            nonlocal res
            res = verdicts()

        assert _jobs(spark, f"at-gate-{conf}", run) == 0
        assert res.source_crs == "4326"
        sink = str(tmp_path / "sink")
        assert _jobs(spark, f"at-gate-write-{conf}", lambda: verdicts().dataframe.write.parquet(sink)) == 1
    with session_conf(spark, conf, str(size - 1)):
        assert _jobs(spark, f"over-gate-{conf}", verdicts) > 0
