"""``process_file`` — the reference's single public entry point, Spark-first.

Reference lifecycle (core_processor.rs:97-117, strictly sequential):
  sniff file type → load into table → schema peek → find geometry columns
  (tabular → coordinate pairs) → attach postgres → create schema → drop
  table → strategy dispatch (geo: CRS-infer + WKT-transform + copy + rebuild;
  non-geo: plain copy).

Ours: sniff (sources/sniffer) → format reader (sources/readers) → DataFrame
(Catalyst replaces DuckDB's planner) → geometry detection over df.dtypes
(functions/geo_detect) → CRS inference (functions/wkb probe ladder + the
functions/geo range classifier on a LIMIT sample) → WKT transform columns
(JVM string synthesis for EPSG:4326 coordinate pairs, otherwise a
``mapInPandas`` that reprojects each Arrow batch with one
``functions.geo.transform_xy`` call and prints it with
``functions.wkb.to_wkt``) → optional PostGIS write + DDL replay
(sinks/postgis).

A CSV within one file split launches no Spark job before the write: the
reader infers its schema on the driver and the CRS probes read the same
driver-side parse (``readers.csv_probe``).  Other inputs run their
probes' ``LIMIT`` queries as jobs.

``launch_process_file`` is aliased to ``process_file`` — README.md:39 of the
reference documents a symbol that does not exist in its code (docs drift);
we expose both names.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from duckdb_postgis_spark.functions.geo import classify_crs_from_ranges, transform_xy
from duckdb_postgis_spark.functions.geo_detect import (
    find_coordinate_pair,
    find_geometry_columns,
)
from duckdb_postgis_spark.functions.wkb import (
    Geom,
    centroid,
    parse_geometry,
    to_wkt,
    transform_geom,
)
from duckdb_postgis_spark.sources.sniffer import FileType, determine_file_type
from duckdb_postgis_spark.sources.readers import csv_probe, read_file
from duckdb_postgis_spark.sinks.postgis import clean_table_name, write_to_postgis

_PROBE_ROWS = 10  # the reference probes ≤10 rows (geo_strategy.rs:144,161,178)
_TARGET_CRS = "4326"


@dataclass
class ProcessResult:
    table_name: str
    file_type: str
    geom_columns: list[str]
    source_crs: str
    dataframe: DataFrame
    wrote_postgis: bool = False
    coordinate_pair: tuple[str, str] | None = field(default=None)


def process_file(
    spark: SparkSession,
    file_path: str,
    table_name: str | None = None,
    postgis_uri: str | None = None,
    schema_name: str = "public",
) -> ProcessResult:
    """Spark port of ``process_file`` (core_processor.rs:463-476).

    Returns the transformed DataFrame (geometry normalized to 2D WKT in
    EPSG:4326 in ``<col>_wkt`` columns, geo_strategy.rs:283-291) and writes
    to PostGIS when a URI is given."""
    ft = determine_file_type(file_path)
    table = table_name or clean_table_name(file_path)
    df = read_file(spark, file_path, ft)
    # schema peek (core_processor.rs:431-438 prints the LIMIT-10 Arrow schema)
    _ = df.schema

    is_tabular = ft in (FileType.CSV, FileType.EXCEL)
    geom_cols = find_geometry_columns(df, is_tabular)
    pair = find_coordinate_pair(df.columns) if is_tabular else None

    if not geom_cols:
        out = df  # NonGeoStrategy: straight copy (non_geo_strategy.rs:12-27)
        crs = _TARGET_CRS
    elif pair is not None:
        x_col, y_col = pair
        crs = metadata_crs(df) or infer_crs_from_xy(df, x_col, y_col)
        out = synthesize_point_wkt(df, x_col, y_col, geom_cols[0], crs)
    else:
        crs = metadata_crs(df) or infer_crs_from_geometry(df, geom_cols[0])
        out = transform_geom_columns(df, geom_cols, crs)

    if postgis_uri:
        write_to_postgis(
            out.drop(*[g for g in geom_cols if g in out.columns]),
            postgis_uri,
            table,
            schema_name,
            geom_cols=geom_cols,
        )
    return ProcessResult(
        table_name=table,
        file_type=str(ft),
        geom_columns=geom_cols,
        source_crs=crs,
        dataframe=out,
        wrote_postgis=bool(postgis_uri),
        coordinate_pair=pair,
    )


# README-documented alias (reference docs drift, README.md:39)
launch_process_file = process_file


# --------------------------------------------------------------------------
# CRS inference
# --------------------------------------------------------------------------


def metadata_crs(df: DataFrame) -> str | None:
    """Authoritative CRS read by the format reader (GeoPackage
    gpkg_spatial_ref_sys, shapefile .prj) — surfaced as a ``crs_epsg``
    column; wins over range inference, mirroring the reference's
    st_read_meta-first ladder (geo_strategy.rs:55-103)."""
    if "crs_epsg" not in df.columns:
        return None
    rows = csv_probe(df, ["crs_epsg"], 1)
    if rows is None:
        rows = df.filter(F.col("crs_epsg").isNotNull()).select("crs_epsg").limit(1).collect()
    return str(rows[0][0]) if rows else None


def infer_crs_from_xy(df: DataFrame, x_col: str, y_col: str) -> str:
    """Coordinate-range CRS inference on a probe sample
    (geo_strategy.rs:186-253): collect ≤10 non-null (x,y), fold min/max,
    classify by the reference's range ladder."""
    rows = csv_probe(df, [x_col, y_col], _PROBE_ROWS, DoubleType())
    if rows is None:
        probe = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
            F.col(x_col).cast("double"), F.col(y_col).cast("double")
        )
        rows = probe.limit(_PROBE_ROWS).collect()
    xs = [r[0] for r in rows if r[0] is not None]
    ys = [r[1] for r in rows if r[1] is not None]
    if not xs or not ys:
        return _TARGET_CRS
    return classify_crs_from_ranges(min(xs), max(xs), min(ys), max(ys))


def infer_crs_from_geometry(df: DataFrame, geom_col: str) -> str:
    """Probe-ladder CRS inference (geo_strategy.rs:105-225): parse ≤10
    geometry values (``parse_geometry``: WKB → hex → WKT), take their
    centroids (ST_Centroid), skip non-finite ones, classify ranges."""
    rows = (
        df.filter(F.col(geom_col).isNotNull()).select(geom_col).limit(_PROBE_ROWS).collect()
    )
    geoms = [g for (val,) in rows if (g := parse_geometry(val)) is not None]
    pts = [c for c in map(centroid, geoms) if math.isfinite(c[0]) and math.isfinite(c[1])]
    if not pts:
        return _TARGET_CRS
    xs, ys = zip(*pts)
    return classify_crs_from_ranges(min(xs), max(xs), min(ys), max(ys))


# --------------------------------------------------------------------------
# transforms (GeoStrategy port)
# --------------------------------------------------------------------------


def _wkt_4326(geoms: list[Geom | None], src_crs: str) -> list[str | None]:
    """ST_AsText(ST_Force2D(ST_Transform(geom))) over one Arrow batch: the
    batch's coordinates are gathered, reprojected by one ``transform_xy``
    call (skipped when the CRS already matches) and put back in place.
    NULL for a NULL geometry, for a non-finite input or output coordinate,
    and for every row when the source CRS is not supported."""
    if src_crs != _TARGET_CRS:
        xs: list[float] = []
        ys: list[float] = []
        for g in geoms:
            if g is not None:
                transform_geom(g, lambda x, y: (xs.append(x), ys.append(y)))
        x, y = np.array(xs, dtype="float64"), np.array(ys, dtype="float64")
        try:
            with np.errstate(all="ignore"):
                lon, lat = transform_xy(x, y, src_crs, _TARGET_CRS)
        except ValueError:
            return [None] * len(geoms)
        lon = np.where(np.isfinite(x) & np.isfinite(y), lon, math.nan)
        moved = zip(lon.tolist(), lat.tolist())
        geoms = [
            None if g is None else transform_geom(g, lambda x, y: next(moved))
            for g in geoms
        ]
    out: list[str | None] = []
    for g in geoms:
        try:
            out.append(None if g is None else to_wkt(g))
        except ValueError:  # a non-finite coordinate
            out.append(None)
    return out


def synthesize_point_wkt(
    df: DataFrame, x_col: str, y_col: str, geom_name: str, src_crs: str
) -> DataFrame:
    """Coordinate pair → ``<geom_name>_wkt`` POINT column, null-filtered
    (geo_strategy.rs:314-347). When src == 4326 this is pure JVM string
    synthesis; otherwise a ``mapInPandas`` reprojects each Arrow batch's
    points with one kernel call (``_wkt_4326``; ST_Transform analog,
    skip-when-same-CRS per geo_strategy.rs:322-340)."""
    out_col = f"{geom_name}_wkt"
    filtered = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    if src_crs == _TARGET_CRS:
        return filtered.withColumn(
            out_col,
            F.concat(
                F.lit("POINT ("),
                F.col(x_col).cast("double").cast("string"),
                F.lit(" "),
                F.col(y_col).cast("double").cast("string"),
                F.lit(")"),
            ),
        )

    def reproject(it):
        for pdf in it:
            res = pdf.drop(columns=["__x", "__y"])
            pts = zip(pdf["__x"].tolist(), pdf["__y"].tolist())
            res[out_col] = _wkt_4326([("Point", p) for p in pts], src_crs)
            yield res

    tagged = filtered.withColumn("__x", F.col(x_col).cast("double")).withColumn(
        "__y", F.col(y_col).cast("double")
    )
    schema = StructType(
        [f for f in tagged.schema.fields if f.name not in ("__x", "__y")]
        + [StructField(out_col, StringType())]
    )
    return tagged.mapInPandas(lambda it: reproject(it), schema=schema)


def transform_geom_columns(
    df: DataFrame, geom_cols: list[str], src_crs: str
) -> DataFrame:
    """``SELECT * EXCLUDE(geoms), ST_AsText(ST_Force2D(ST_Transform(...)))``
    (geo_strategy.rs:256-311): every geometry column becomes a 2D WKT
    EPSG:4326 ``<col>_wkt`` in one Arrow-batched pass; original geometry
    columns are dropped. Full geometry shape is preserved: every value goes
    through ``parse_geometry`` (WKB bytes, hex WKB or WKT text of any
    standard type); each column of a batch reprojects with one kernel call
    (``_wkt_4326``) and re-emits as WKT (functions/wkb.py). A value that
    does not parse, or has a non-finite coordinate (a WKB ``POINT EMPTY``
    is NaN NaN), becomes NULL like the Postgres-side safe_geom_from_text
    (geo_strategy.rs:373-381)."""

    def convert(it):
        for pdf in it:
            for g in geom_cols:
                pdf[f"{g}_wkt"] = _wkt_4326([parse_geometry(v) for v in pdf[g]], src_crs)
            yield pdf.drop(columns=list(geom_cols))

    keep = [f for f in df.schema.fields if f.name not in geom_cols]
    schema = StructType(keep + [StructField(f"{g}_wkt", StringType()) for g in geom_cols])
    return df.mapInPandas(lambda it: convert(it), schema=schema)
