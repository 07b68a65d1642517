"""``process_file`` — the reference's single public entry point, Spark-first.

Reference lifecycle (core_processor.rs:97-117, strictly sequential):
  sniff file type → load into table → schema peek → find geometry columns
  (tabular → coordinate pairs) → attach postgres → create schema → drop
  table → strategy dispatch (geo: CRS-infer + WKT-transform + copy + rebuild;
  non-geo: plain copy).

Ours: sniff (sources/sniffer) → format reader (sources/readers) → DataFrame
(Catalyst replaces DuckDB's planner) → geometry detection over df.dtypes
(functions/geo_detect) → CRS inference (probe ladder + range classifier on a
LIMIT sample, functions/geo) → WKT transform columns (pandas UDF) → optional
PostGIS write + DDL replay (sinks/postgis).

``launch_process_file`` is aliased to ``process_file`` — README.md:39 of the
reference documents a symbol that does not exist in its code (docs drift);
we expose both names.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from duckdb_postgis_spark.functions.geo import (
    classify_crs_from_ranges,
    probe_geometry_encoding,
    transform_xy,
    wkt_point,
)
from duckdb_postgis_spark.functions.geo_detect import (
    find_coordinate_pair,
    find_geometry_columns,
)
from duckdb_postgis_spark.sources.sniffer import FileType, determine_file_type
from duckdb_postgis_spark.sources.readers import read_file
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
    rows = df.filter(F.col("crs_epsg").isNotNull()).select("crs_epsg").limit(1).collect()
    return str(rows[0][0]) if rows else None


def infer_crs_from_xy(df: DataFrame, x_col: str, y_col: str) -> str:
    """Coordinate-range CRS inference on a probe sample
    (geo_strategy.rs:186-253): collect ≤10 non-null (x,y), fold min/max,
    classify by the reference's range ladder."""
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
    """Probe-ladder CRS inference (geo_strategy.rs:105-225): decode ≤10
    geometry values (WKB → hex → WKT ladder), take centroid-ish coords,
    classify ranges."""
    rows = (
        df.filter(F.col(geom_col).isNotNull()).select(geom_col).limit(_PROBE_ROWS).collect()
    )
    xs, ys = [], []
    for (val,) in rows:
        probe = probe_geometry_encoding(val)
        if probe is not None:
            xs.append(probe[1])
            ys.append(probe[2])
    if not xs:
        return _TARGET_CRS
    return classify_crs_from_ranges(min(xs), max(xs), min(ys), max(ys))


# --------------------------------------------------------------------------
# transforms (GeoStrategy port)
# --------------------------------------------------------------------------


def synthesize_point_wkt(
    df: DataFrame, x_col: str, y_col: str, geom_name: str, src_crs: str
) -> DataFrame:
    """Coordinate pair → ``<geom_name>_wkt`` POINT column, null-filtered
    (geo_strategy.rs:314-347). When src == 4326 this is pure JVM string
    synthesis; otherwise a vectorized reprojection UDF runs first
    (ST_Transform analog, skip-when-same-CRS per geo_strategy.rs:322-340)."""
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
        import pandas as pd

        for pdf in it:
            wkts = []
            for x, y in zip(pdf["__x"], pdf["__y"]):
                lon, lat = transform_xy(float(x), float(y), src_crs, _TARGET_CRS)
                wkts.append(wkt_point(lon, lat))
            res = pdf.drop(columns=["__x", "__y"])
            res[out_col] = wkts
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
    columns are dropped. Full geometry shape is preserved — WKB (bytes or
    hex) or WKT text of any standard type decodes, reprojects
    coordinate-by-coordinate and re-emits as WKT (functions/wkb.py);
    unparseable values become NULL like the Postgres-side
    safe_geom_from_text (geo_strategy.rs:373-381)."""
    from duckdb_postgis_spark.functions.wkb import (
        from_wkt,
        to_wkt,
        transform_geom,
        wkb_decode,
    )

    def convert(it):
        import pandas as pd

        def to_wkt_4326(val):
            geom = None
            if isinstance(val, (bytes, bytearray)):
                try:
                    geom = wkb_decode(bytes(val))
                except Exception:
                    return None
            elif isinstance(val, str):
                try:
                    geom = wkb_decode(bytes.fromhex(val.strip()))
                except Exception:
                    try:
                        geom = from_wkt(val)
                    except ValueError:
                        return None
            if geom is None:
                return None
            if src_crs != _TARGET_CRS:
                geom = transform_geom(
                    geom, lambda x, y: transform_xy(x, y, src_crs, _TARGET_CRS)
                )
            return to_wkt(geom)

        for pdf in it:
            for g in geom_cols:
                pdf[f"{g}_wkt"] = [
                    to_wkt_4326(val) if val is not None else None for val in pdf[g]
                ]
            yield pdf.drop(columns=list(geom_cols))

    keep = [f for f in df.schema.fields if f.name not in geom_cols]
    schema = StructType(keep + [StructField(f"{g}_wkt", StringType()) for g in geom_cols])
    return df.mapInPandas(lambda it: convert(it), schema=schema)
