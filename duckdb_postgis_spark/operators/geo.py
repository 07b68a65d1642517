"""Geo-ETL operator queries G3-G6 (SURVEY §2.11) over the driver testdata.

The testdata has no geometry columns, so coordinates are synthesized with
engine-identical DECIMAL arithmetic from table keys — the geo *operators*
(WKT synthesis, range aggregation, WKB round-trip, reprojection) are the
thing under test, exactly as the reference performs them on loaded files.

Reference parity: point synthesis mirrors ST_AsText(ST_Force2D(ST_Point(x,y)))
(geo_strategy.rs:322-343); range aggregation mirrors the coordinate min/max
fold (geo_strategy.rs:186-225); the WKB round-trip mirrors the probe ladder
(geo_strategy.rs:135-183); reprojection mirrors ST_Transform 27700→4326
(geo_strategy.rs:283-291).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TextIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from duckdb_postgis_spark.catalog import table, table_num_rows
from duckdb_postgis_spark.registry import query
from duckdb_postgis_spark.session import shuffle_width

# Engine-identical synthetic coordinates: DECIMAL(·,1) keeps string rendering
# byte-identical between Spark and DuckDB (x.5 doubles are exact in binary).
_LON = "CAST((c_custkey % 360) - 179.5 AS DECIMAL(6,1))"
_LAT = "CAST((c_custkey % 180) - 89.5 AS DECIMAL(5,1))"


def _coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(_LON).alias("lon"),
        F.expr(_LAT).alias("lat"),
    )


# --------------------------------------------------------------------------
# G3 point WKT synthesis
# --------------------------------------------------------------------------
@query(
    "geo_point_wkt",
    oracle=f"""
    SELECT c_custkey,
           'POINT (' || CAST({_LON} AS VARCHAR) || ' ' || CAST({_LAT} AS VARCHAR) || ')'
             AS geom_wkt
    FROM customer
    WHERE {_LON} IS NOT NULL AND {_LAT} IS NOT NULL
    ORDER BY c_custkey
    """,
)
def geo_point_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x,y → 'POINT (x y)' WKT column, null-filtered — the reference's
    coordinate-pair path (geo_strategy.rs:322-343: ST_AsText(ST_Force2D(
    ST_Point(x,y))) with WHERE x IS NOT NULL AND y IS NOT NULL).
    Scale: pure codegen string synthesis, no shuffle."""
    c = _coords(spark, sf_dir)
    return (
        c.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
        .select(
            "c_custkey",
            F.concat(
                F.lit("POINT ("),
                F.col("lon").cast("string"),
                F.lit(" "),
                F.col("lat").cast("string"),
                F.lit(")"),
            ).alias("geom_wkt"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# G4 CRS inference ranges (the aggregation half; classifier is pure python)
# --------------------------------------------------------------------------
@query(
    "geo_crs_infer_ranges",
    oracle=f"""
    SELECT CAST(MIN({_LON}) AS DOUBLE) AS min_x, CAST(MAX({_LON}) AS DOUBLE) AS max_x,
           CAST(MIN({_LAT}) AS DOUBLE) AS min_y, CAST(MAX({_LAT}) AS DOUBLE) AS max_y,
           COUNT(*) AS n_points
    FROM customer
    WHERE {_LON} IS NOT NULL AND {_LAT} IS NOT NULL
    """,
)
def geo_crs_infer_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate-range aggregation feeding the CRS classifier (SURVEY G4).
    The reference folds ≤10 probe rows client-side (geo_strategy.rs:186-225);
    as a real engine op this becomes a full min/max aggregate. The range→EPSG
    decision ladder (geo_strategy.rs:228-253) is
    functions/geo.py::classify_crs_from_ranges, unit-tested with the
    reference's exact thresholds. Scale: partial min/max — one reduced row."""
    c = _coords(spark, sf_dir)
    return c.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull()).agg(
        F.min("lon").cast("double").alias("min_x"),
        F.max("lon").cast("double").alias("max_x"),
        F.min("lat").cast("double").alias("min_y"),
        F.max("lat").cast("double").alias("max_y"),
        F.count("*").alias("n_points"),
    )


# --------------------------------------------------------------------------
# G6 WKB round-trip (encode → decode → coordinates)
# --------------------------------------------------------------------------
@query(
    "geo_wkb_roundtrip",
    oracle=f"""
    SELECT c_custkey, CAST({_LON} AS DOUBLE) AS x, CAST({_LAT} AS DOUBLE) AS y
    FROM customer
    ORDER BY c_custkey
    """,
)
def geo_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB probe-ladder round-trip (SURVEY G6; geo_strategy.rs:135-183):
    encode each point as little-endian WKB, then decode it through the
    probe ladder (``parse_geometry``) back to coordinates. The oracle is
    the identity on the inputs — any codec asymmetry fails the value hash.
    Arrow-batched mapInPandas (the geometry hot path stays vectorized
    python, the reference's own design keeps geometry row-scalar: SURVEY
    §4). Scale: narrow map, no shuffle."""
    from duckdb_postgis_spark.functions.geo import wkb_point_encode
    from duckdb_postgis_spark.functions.wkb import parse_geometry

    c = _coords(spark, sf_dir).select(
        "c_custkey", F.col("lon").cast("double"), F.col("lat").cast("double")
    )

    def roundtrip(it):
        import pandas as pd

        for pdf in it:
            pts = [
                parse_geometry(wkb_point_encode(x, y))[1]
                for x, y in zip(pdf["lon"], pdf["lat"])
            ]
            yield pd.DataFrame(
                {
                    "c_custkey": pdf["c_custkey"],
                    "x": [p[0] for p in pts],
                    "y": [p[1] for p in pts],
                }
            )

    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("x", DoubleType()),
            StructField("y", DoubleType()),
        ]
    )
    return c.mapInPandas(roundtrip, schema=schema).orderBy("c_custkey")




# --------------------------------------------------------------------------
# G5 oracle: the OSGB36/WGS84 transform replayed in pure DuckDB SQL
# --------------------------------------------------------------------------
def _bng_sql_oracle() -> str:
    """DuckDB replay of the BNG→WGS84 kernel ``functions.geo.bng_to_wgs84``
    (DuckDB has no spatial extension offline, so the oracle IS the math):
    recursive-CTE meridian-arc convergence, the OS inverse-TM series, the
    7-param Helmert shift, and the 8-iteration geodetic loop — every
    constant embedded as the exact repr of the Python double, every
    Python ``**`` rendered as ``pow()``.  Its ROUND(·, 6) output equals
    the kernel's on all 20000 pairs of the query's input domain
    (tests/test_geo_transform_vec.py), so the value hash is stable."""
    import math

    from duckdb_postgis_spark.functions.geo import (
        _AIRY,
        _E0,
        _F0,
        _HELMERT,
        _LAT0,
        _LON0,
        _N0,
        _WGS84,
    )

    a, b = _AIRY.a, _AIRY.b
    e2 = _AIRY.e2
    aw, e2w = _WGS84.a, _WGS84.e2
    n = (a - b) / (a + b)
    h = _HELMERT
    R = lambda v: f"CAST({v!r} AS DOUBLE)"  # noqa: E731
    deg = f"CAST({180.0 / math.pi!r} AS DOUBLE)"

    def marc(phi: str) -> str:
        return (
            f"{R(b)} * {R(_F0)} * ("
            f"(1 + {R(n)} + 1.25 * {R(n * n)} + 1.25 * {R(n**3)}) * ({phi} - {R(_LAT0)})"
            f" - (3 * {R(n)} + 3 * {R(n * n)} + 2.625 * {R(n**3)})"
            f" * sin({phi} - {R(_LAT0)}) * cos({phi} + {R(_LAT0)})"
            f" + (1.875 * {R(n * n)} + 1.875 * {R(n**3)})"
            f" * sin(2 * ({phi} - {R(_LAT0)})) * cos(2 * ({phi} + {R(_LAT0)}))"
            f" - (35.0 / 24.0) * {R(n**3)}"
            f" * sin(3 * ({phi} - {R(_LAT0)})) * cos(3 * ({phi} + {R(_LAT0)}))"
            f")"
        )

    return f"""
    WITH RECURSIVE src AS (
      SELECT p_partkey,
             CAST(400000.0 + (p_partkey % 4000) * 50.0 AS DOUBLE) AS E,
             CAST(100000.0 + (p_partkey % 10000) * 100.0 AS DOUBLE) AS N
      FROM part
    ),
    m AS (
      SELECT p_partkey, E, N, {R(_LAT0)} AS phi, CAST(0.0 AS DOUBLE) AS M,
             FALSE AS done, 0 AS it
      FROM src
      UNION ALL
      SELECT p_partkey, E, N, phin,
             {marc("phin")} AS Mn,
             abs(N - ({R(_N0)}) - {marc("phin")}) < 1e-5 AS done,
             it + 1
      FROM (
        SELECT p_partkey, E, N,
               (N - ({R(_N0)}) - M) / ({R(a)} * {R(_F0)}) + phi AS phin, it
        FROM m WHERE NOT done AND it < 20
      ) s
    ),
    conv AS (SELECT * FROM m WHERE done),
    tm AS (
      SELECT p_partkey, E, N, phi,
             cos(phi) AS cphi, tan(phi) AS tphi,
             {R(a)} * {R(_F0)} / sqrt(1 - {R(e2)} * sin(phi) * sin(phi)) AS nu,
             {R(a)} * {R(_F0)} * (1 - {R(e2)})
                 / pow(1 - {R(e2)} * sin(phi) * sin(phi), 1.5) AS rho
      FROM conv
    ),
    tm2 AS (
      SELECT *, nu / rho - 1 AS eta2, tphi * tphi AS t2, pow(tphi, 4.0) AS t4,
             E - {R(_E0)} AS dE
      FROM tm
    ),
    ll36 AS (
      SELECT p_partkey, E, N,
             phi - (tphi / (2 * rho * nu)) * pow(dE, 2.0)
                 + (tphi / (24 * rho * pow(nu, 3.0))
                    * (5 + 3 * t2 + eta2 - 9 * t2 * eta2)) * pow(dE, 4.0)
                 - (tphi / (720 * rho * pow(nu, 5.0))
                    * (61 + 90 * t2 + 45 * t4)) * pow(dE, 6.0) AS lat36,
             {R(_LON0)} + (1.0 / (cphi * nu)) * dE
                 - (1.0 / (cphi * 6 * pow(nu, 3.0)) * (nu / rho + 2 * t2)) * pow(dE, 3.0)
                 + (1.0 / (cphi * 120 * pow(nu, 5.0))
                    * (5 + 28 * t2 + 24 * t4)) * pow(dE, 5.0)
                 - (1.0 / (cphi * 5040 * pow(nu, 7.0))
                    * (61 + 662 * t2 + 1320 * t4 + 720 * pow(t2, 3.0))) * pow(dE, 7.0) AS lon36
      FROM tm2
    ),
    cart AS (
      SELECT p_partkey, E, N,
             ({R(a)} / sqrt(1 - {R(e2)} * sin(lat36) * sin(lat36)))
                 * cos(lat36) * cos(lon36) AS x,
             ({R(a)} / sqrt(1 - {R(e2)} * sin(lat36) * sin(lat36)))
                 * cos(lat36) * sin(lon36) AS y,
             ({R(a)} / sqrt(1 - {R(e2)} * sin(lat36) * sin(lat36)))
                 * (1 - {R(e2)}) * sin(lat36) AS z
      FROM ll36
    ),
    helm AS (
      SELECT p_partkey, E, N,
             {R(h["tx"])} + (1 + {R(h["s"])}) * x - {R(h["rz"])} * y + {R(h["ry"])} * z AS x2,
             {R(h["ty"])} + {R(h["rz"])} * x + (1 + {R(h["s"])}) * y - {R(h["rx"])} * z AS y2,
             {R(h["tz"])} - {R(h["ry"])} * x + {R(h["rx"])} * y + (1 + {R(h["s"])}) * z AS z2
      FROM cart
    ),
    geo0 AS (
      SELECT p_partkey, E, N, x2, y2, z2,
             atan2(y2, x2) AS lon84,
             sqrt(x2 * x2 + y2 * y2) AS p,
             atan2(z2, sqrt(x2 * x2 + y2 * y2) * (1 - {R(e2w)})) AS lat, 0 AS i
      FROM helm
    ),
    geoi AS (
      SELECT * FROM geo0
      UNION ALL
      SELECT p_partkey, E, N, x2, y2, z2, lon84, p,
             atan2(z2 + {R(e2w)} * ({R(aw)} / sqrt(1 - {R(e2w)} * sin(lat) * sin(lat)))
                   * sin(lat), p) AS lat,
             i + 1
      FROM geoi WHERE i < 8
    )
    SELECT p_partkey, E AS easting, N AS northing,
           ROUND(lon84 * {deg}, 6) AS lon,
           ROUND(lat * {deg}, 6) AS lat
    FROM geoi WHERE i = 8
    ORDER BY p_partkey
    """


# --------------------------------------------------------------------------
# G5 reprojection EPSG:27700 → EPSG:4326
# --------------------------------------------------------------------------
@query("geo_transform_27700_to_4326", oracle=_bng_sql_oracle())
def geo_transform_27700_to_4326(spark: SparkSession, sf_dir: str) -> DataFrame:
    """British National Grid → WGS84 reprojection via closed-form OSGB math
    in an Arrow-batched pandas UDF (SURVEY G5; the reference's ST_Transform
    path geo_strategy.rs:288 with always_xy). Synthetic E/N derived from part
    keys inside the BNG validity envelope [0,800000]×[0,1400000]
    (geo_strategy.rs:237-243). Each Arrow batch is one call of the array
    kernel ``functions.geo.bng_to_wgs84``, the package's only 27700 → 4326
    implementation, which process_file uses too. Value-level oracle: the
    whole chain replayed in pure DuckDB SQL (_bng_sql_oracle — recursive-CTE
    meridian arc, inverse-TM series, Helmert, geodetic iteration).
    easting/northing are p_partkey % 4000 / % 10000 lattices, so the input
    domain is 20000 pairs at every scale; tests/test_geo_transform_vec.py
    compares kernel and oracle on all of them after ROUND(·, 6). Accuracy
    is unit-tested against published OS test points."""
    from duckdb_postgis_spark.functions.geo import bng_to_wgs84

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        (400000.0 + (F.col("p_partkey") % 4000) * F.lit(50.0)).alias("easting"),
        (100000.0 + (F.col("p_partkey") % 10000) * F.lit(100.0)).alias("northing"),
    )

    def reproject(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            lon, lat = bng_to_wgs84(
                pdf["easting"].to_numpy(), pdf["northing"].to_numpy()
            )
            yield pd.DataFrame(
                {
                    "p_partkey": pdf["p_partkey"],
                    "easting": pdf["easting"],
                    "northing": pdf["northing"],
                    "lon": [round(float(v), 6) for v in lon],
                    "lat": [round(float(v), 6) for v in lat],
                }
            )

    schema = StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("easting", DoubleType()),
            StructField("northing", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
        ]
    )
    return p.mapInPandas(reproject, schema=schema).orderBy("p_partkey")


# --------------------------------------------------------------------------
# G8 distributed spatial join (grid-cell bucketed point-in-bbox)
# --------------------------------------------------------------------------
#: synthetic per-nation bounding boxes (DECIMAL-exact, engine-identical):
#: 25 nations → lon origin spans [-175, 161], each box 12° x 8°
_BB_LON0 = "CAST((n_nationkey * 14) - 175 AS DECIMAL(6,1))"
_BB_LAT0 = "CAST((n_nationkey * 6) - 80 AS DECIMAL(5,1))"
_CELL = 10  # degrees per grid cell


@query(
    "geo_bbox_join_grid",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
    ),
    boxes AS (
        SELECT n_nationkey, n_name,
               {_BB_LON0} AS lon0, {_BB_LON0} + 12 AS lon1,
               {_BB_LAT0} AS lat0, {_BB_LAT0} + 8 AS lat1
        FROM nation
    )
    SELECT b.n_nationkey, b.n_name, COUNT(*) AS n_points
    FROM pts p JOIN boxes b
      ON p.lon >= b.lon0 AND p.lon < b.lon1
     AND p.lat >= b.lat0 AND p.lat < b.lat1
    GROUP BY b.n_nationkey, b.n_name
    ORDER BY b.n_nationkey
    """,
)
def geo_bbox_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spatial join (point-in-bbox) via the canonical grid-cell
    layout: points key to their 10°-cell, boxes explode to every cell they
    overlap, the join is a plain equi-join on (cx, cy) and the exact
    containment predicate re-checks inside the matched cell.  This is how
    every distributed spatial engine (Sedona, PostGIS partitioned,
    BigQuery GIS) executes containment at scale — the oracle is the
    direct theta join, proving the rewrite is lossless.

    Scale: the theta join the oracle runs would be |points| x |boxes| at
    100 TB; the grid rewrite shuffles each point once (its cell id) and
    each box once per overlapped cell (bounded by box size / cell size),
    so cost is linear with a small constant — and a skewed hot cell
    splits under AQE like any hash join."""
    pts = _coords(spark, sf_dir)
    pts = pts.select(
        "c_custkey",
        "lon",
        "lat",
        F.floor(F.col("lon") / _CELL).cast("int").alias("cx"),
        F.floor(F.col("lat") / _CELL).cast("int").alias("cy"),
    )
    nation = table(spark, sf_dir, "nation")
    boxes = nation.select(
        "n_nationkey",
        "n_name",
        F.expr(_BB_LON0).alias("lon0"),
        (F.expr(_BB_LON0) + 12).alias("lon1"),
        F.expr(_BB_LAT0).alias("lat0"),
        (F.expr(_BB_LAT0) + 8).alias("lat1"),
    )
    box_cells = boxes.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lon0") / _CELL).cast("int"),
                # upper bound exclusive: a box ending exactly on a cell edge
                # does not overlap the next cell
                F.floor((F.col("lon1") - F.lit(0.001).cast("decimal(6,3)")) / _CELL).cast("int"),
            )
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("lat0") / _CELL).cast("int"),
                F.floor((F.col("lat1") - F.lit(0.001).cast("decimal(5,3)")) / _CELL).cast("int"),
            )
        ).alias("cy"),
    )
    return (
        pts.join(box_cells, ["cx", "cy"])
        .filter(
            (F.col("lon") >= F.col("lon0"))
            & (F.col("lon") < F.col("lon1"))
            & (F.col("lat") >= F.col("lat0"))
            & (F.col("lat") < F.col("lat1"))
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("*").alias("n_points"))
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------------------
# G9 spatial cell rollup (geohash-style density grid)
# --------------------------------------------------------------------------
@query(
    "geo_cell_rollup",
    oracle=f"""
    SELECT CAST(floor({_LON} / {_CELL}) AS INT) AS cx,
           CAST(floor({_LAT} / {_CELL}) AS INT) AS cy,
           COUNT(*) AS n_points
    FROM customer
    GROUP BY 1, 2
    ORDER BY cx, cy
    """,
)
def geo_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density grid: points quantized to 10° cells, count per cell
    — the geohash/H3-style aggregation behind heatmaps and spatial
    partitioning decisions.  Integer cell keys, exact counts.

    Scale: partial agg on a bounded key space (36x18 cells at this
    resolution) — the shuffle carries |cells| rows per task."""
    c = _coords(spark, sf_dir)
    return (
        c.groupBy(
            F.floor(F.col("lon") / _CELL).cast("int").alias("cx"),
            F.floor(F.col("lat") / _CELL).cast("int").alias("cy"),
        )
        .agg(F.count("*").alias("n_points"))
        .orderBy("cx", "cy")
    )


# --------------------------------------------------------------------------
# G10 great-circle radius join (haversine)
# --------------------------------------------------------------------------
_DEG2RAD = "CAST(0.017453292519943295 AS DOUBLE)"  # double(pi/180), both engines
_ANCHOR_LON = "CAST((r_regionkey * 72) - 144 AS DECIMAL(6,1))"
_ANCHOR_LAT = "CAST((r_regionkey * 30) - 60 AS DECIMAL(5,1))"
_RADIUS_KM = 2000


@query(
    "geo_haversine_radius",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
    ),
    anchors AS (
        SELECT r_regionkey, r_name,
               {_ANCHOR_LON} AS alon, {_ANCHOR_LAT} AS alat
        FROM region
    ),
    dists AS (
        SELECT a.r_regionkey, a.r_name,
               12742.0 * asin(sqrt(
                   pow(sin((p.lat - a.alat) * {_DEG2RAD} / 2), 2.0)
                   + cos(p.lat * {_DEG2RAD}) * cos(a.alat * {_DEG2RAD})
                     * pow(sin((p.lon - a.alon) * {_DEG2RAD} / 2), 2.0)
               )) AS dist_km
        FROM pts p CROSS JOIN anchors a
    )
    SELECT r_regionkey, r_name,
           COUNT(CASE WHEN dist_km < {_RADIUS_KM} THEN 1 END) AS n_within,
           ROUND(MIN(dist_km), 6) AS min_dist_km
    FROM dists
    GROUP BY r_regionkey, r_name
    ORDER BY r_regionkey
    """,
)
def geo_haversine_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle radius query: per anchor (one per region), how many
    customer points lie within 2000 km, plus the nearest distance — the
    ST_DWithin workload on a sphere.  The haversine is one closed-form
    expression with an explicit double(pi/180) literal, so both engines
    produce bit-identical distances (same libm sin/cos/asin) and the
    count compares exact booleans, not rounded floats.

    Scale: anchors broadcast (they are the tiny side by nature); the
    per-point trig runs in whole-stage codegen; for huge anchor sets the
    G8 grid-cell rewrite bounds candidates first."""
    pts = _coords(spark, sf_dir)
    region = table(spark, sf_dir, "region")
    anchors = F.broadcast(
        region.select(
            "r_regionkey",
            "r_name",
            F.expr(_ANCHOR_LON).alias("alon"),
            F.expr(_ANCHOR_LAT).alias("alat"),
        )
    )
    d2r = F.expr(_DEG2RAD)
    # explicit cross join against the broadcast 5-row anchor table: the
    # BroadcastNestedLoopJoin this plans is a bounded constant-attach
    # (build side = one row per region), whitelisted in the plan lint
    # alongside similarity_search_query
    j = pts.crossJoin(anchors)
    dist = 12742.0 * F.asin(
        F.sqrt(
            F.pow(F.sin((F.col("lat") - F.col("alat")) * d2r / 2), 2.0)
            + F.cos(F.col("lat") * d2r)
            * F.cos(F.col("alat") * d2r)
            * F.pow(F.sin((F.col("lon") - F.col("alon")) * d2r / 2), 2.0)
        )
    )
    return (
        j.withColumn("dist_km", dist)
        .groupBy("r_regionkey", "r_name")
        .agg(
            F.count(F.when(F.col("dist_km") < _RADIUS_KM, 1)).alias("n_within"),
            F.round(F.min("dist_km"), 6).alias("min_dist_km"),
        )
        .orderBy("r_regionkey")
    )


# --------------------------------------------------------------------------
# G11 k-nearest-neighbor spatial join (round 5)
# --------------------------------------------------------------------------
_SUPP_LON = "CAST(((s_suppkey * 7) % 360) - 179.5 AS DECIMAL(6,1))"
_SUPP_LAT = "CAST(((s_suppkey * 13) % 180) - 89.5 AS DECIMAL(5,1))"


@query(
    "geo_knn_join",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, CAST({_LON} AS DOUBLE) AS lon, CAST({_LAT} AS DOUBLE) AS lat
        FROM customer
    ),
    s AS (
        SELECT s_suppkey, CAST({_SUPP_LON} AS DOUBLE) AS slon,
               CAST({_SUPP_LAT} AS DOUBLE) AS slat
        FROM supplier
    ),
    d AS (
        SELECT c_custkey, s_suppkey,
               12742.0 * asin(sqrt(
                   pow(sin((lat - slat) * {_DEG2RAD} / 2), 2)
                   + cos(lat * {_DEG2RAD}) * cos(slat * {_DEG2RAD})
                     * pow(sin((lon - slon) * {_DEG2RAD} / 2), 2)
               )) AS dist_km
        FROM c CROSS JOIN s
    )
    SELECT c_custkey, s_suppkey, ROUND(dist_km, 6) AS dist_km, rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY dist_km, s_suppkey) AS rk
        FROM d
    ) WHERE rk <= 3
    ORDER BY c_custkey, rk
    """,
)
def geo_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor spatial join (k=3): each customer point matched
    to its 3 closest suppliers by great-circle distance — the store-
    assignment / nearest-facility workload.  Haversine is the same
    closed-form double expression as G10 (bit-identical cross-engine);
    the per-customer top-3 is a deterministic (dist, key)-ordered rank.

    Size-threshold dispatch (round 8, closing the r7 verdict's measured
    boundary): below ~2×10⁸ candidate pairs the plan is the broadcast
    dimension-attach (suppliers broadcast, fact never shuffles, top-3
    compiles to WindowGroupLimit) — this is the driver/bench path, so the
    sf0.01 hash is byte-identical to r7.  Above the threshold (the r7
    stress sweep measured the attach at ~31 min for 150 k × 10 k =
    1.5×10⁹ haversines) the G8 grid-cell machinery takes over:
    customers probe a lon-wrapped 3-row cell ring (ring width widens
    with latitude so the physical window stays ~constant), candidates
    equi-join on the cell key, and a per-customer EXACTNESS CERTIFICATE
    — 3rd-candidate distance < a spherical lower bound on the distance
    to anything outside the probed ring — sends the rare uncertified
    point back through the broadcast attach, so the grid path returns
    the same rows the attach would (equality pinned at sf0.01 AND sf0.1
    in tests/test_geo_functions.py)."""
    try:
        pairs = table_num_rows(f"{sf_dir}/customer.parquet") * table_num_rows(
            f"{sf_dir}/supplier.parquet"
        )
    except OSError:
        pairs = 0
    knn = _geo_knn_grid if pairs > _KNN_GRID_PAIR_THRESHOLD else _geo_knn_attach
    cust = _coords(spark, sf_dir).select(
        "c_custkey",
        F.col("lon").cast("double").alias("lon"),
        F.col("lat").cast("double").alias("lat"),
    )
    supp = _knn_suppliers(spark, sf_dir)
    return knn(cust, supp).orderBy("c_custkey", "rk")


#: above this many customer×supplier candidate pairs, the broadcast attach
#: (linear in pairs) loses to the grid ring join — measured r7: 1.5e9 pairs
#: = ~31 min single-node; 1.5e7 (sf0.1) = seconds, broadcast still wins
_KNN_GRID_PAIR_THRESHOLD = 2e8
_KM_PER_DEG = 6371.0 * 0.017453292519943295  # R * pi/180
_LON_CELLS = 360 // _CELL  # 36
_LAT_CELLS = 180 // _CELL  # 18


def _knn_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(_SUPP_LON).cast("double").alias("slon"),
        F.expr(_SUPP_LAT).cast("double").alias("slat"),
    )


def _knn_haversine() -> F.Column:
    """The G10/G11 closed-form haversine over (lat, lon, slat, slon) —
    one shared expression tree so the grid and broadcast paths (and the
    DuckDB oracle) produce bit-identical doubles."""
    d2r = F.expr(_DEG2RAD)
    return 12742.0 * F.asin(
        F.sqrt(
            F.pow(F.sin((F.col("lat") - F.col("slat")) * d2r / 2), 2.0)
            + F.cos(F.col("lat") * d2r)
            * F.cos(F.col("slat") * d2r)
            * F.pow(F.sin((F.col("lon") - F.col("slon")) * d2r / 2), 2.0)
        )
    )


def _knn_rank_top3(j: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey")
    return (
        j.withColumn("dist_km", _knn_haversine())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_custkey", "s_suppkey", F.round("dist_km", 6).alias("dist_km"), "rk")
    )


def _geo_knn_attach(cust: DataFrame, supp: DataFrame) -> DataFrame:
    """Broadcast dimension-attach kNN (the sub-threshold plan): BNLJ with
    the supplier dim as build side (declared in the plan lint with the G10
    allowance); top-3 compiles to WindowGroupLimit.

    The customer side is repartitioned to cluster width FIRST (r13
    OPTIMIZATION round, guide §2.5/§2.6): the cross product multiplies
    each customer row by |supp|, so per-row downstream work is ~|supp|
    haversines + the WindowGroupLimit sort — but Spark sizes the scan by
    input BYTES, which put the sf0.1 attach (15 M candidate pairs) on a
    handful of tasks with one straggler holding the wall-clock while the
    rest of the machine idled (observed (9+1)/10 tasks).  Hashing on
    c_custkey (15 k distinct keys over P partitions — no synthetic-key
    collision skew, §2.5) moves only the skinny (key, lon, lat) rows.
    An in-row array_sort top-3 over a collect_list'd supplier array was
    tried first and REJECTED by measurement: higher-order-function
    lambdas evaluate interpreted (no whole-stage codegen), and 15 M
    interpreted haversines lose to the codegen'd window form ~1.6×."""
    return _knn_rank_top3(
        cust.repartition(shuffle_width(cust.sparkSession), "c_custkey").crossJoin(
            F.broadcast(supp)
        )
    )


def _geo_knn_grid(cust: DataFrame, supp: DataFrame) -> DataFrame:
    """Grid-cell ring kNN (the at-scale plan; G8 machinery): suppliers key
    once to their 10° cell; each customer probes a 3-lat-row ring whose
    lon width widens with latitude (w ≈ 1/cos φ cells each side, all 36
    at a pole-touching band) and equi-joins candidates on the cell key —
    candidate volume is O(|cust| · ring density), never |cust|×|supp|.

    Exactness: a per-customer certificate compares the 3rd candidate's
    distance against a LOWER BOUND on the distance to any supplier
    outside the probed ring — lat margins bound via R·Δφ (exact on a
    sphere), the lon margin via the great-circle distance to the nearest
    point of the boundary meridian segment (perpendicular-foot latitude
    clamped to the ring's lat band; valid for margins < 90°, which the
    band geometry guarantees whenever the ring doesn't already cover all
    longitudes).  Customers whose certificate fails (no 3 candidates, or
    3rd distance ≥ bound) re-run through the broadcast attach — a rare
    escape set, so the union stays linear.  Lon cells wrap at the
    antimeridian; pole-touching bands probe every longitude, which also
    captures trans-polar neighbors."""
    C = float(_CELL)
    rad = 0.017453292519943295
    scell = supp.select(
        "s_suppkey",
        "slon",
        "slat",
        F.pmod(F.floor((F.col("slon") + 180.0) / C), F.lit(_LON_CELLS)).cast("int").alias("cx"),
        F.least(
            F.lit(_LAT_CELLS - 1),
            F.floor((F.col("slat") + 90.0) / C).cast("int"),
        ).alias("cy"),
    )
    geom = (
        cust.withColumn(
            "cxc", F.pmod(F.floor((F.col("lon") + 180.0) / C), F.lit(_LON_CELLS)).cast("int")
        )
        .withColumn(
            "cyc",
            F.least(F.lit(_LAT_CELLS - 1), F.floor((F.col("lat") + 90.0) / C).cast("int")),
        )
        .withColumn("lat_lo", F.greatest(F.lit(-90.0), (F.col("cyc") - 1) * C - 90.0))
        .withColumn("lat_hi", F.least(F.lit(90.0), (F.col("cyc") + 2) * C - 90.0))
        .withColumn("maxabs", F.greatest(F.abs("lat_lo"), F.abs("lat_hi")))
        .withColumn(
            "w",
            F.when(F.col("maxabs") >= 89.999, F.lit(_LON_CELLS // 2))
            .otherwise(F.ceil(1.0 / F.cos(F.radians("maxabs"))))
            .cast("int"),
        )
        .withColumn("covered_all_lon", (2 * F.col("w") + 1) >= _LON_CELLS)
    )
    cand = (
        geom.select(
            "c_custkey",
            "lon",
            "lat",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(-F.col("w"), F.col("w")),
                        lambda d: F.pmod(F.col("cxc") + d, F.lit(_LON_CELLS)).cast("int"),
                    )
                )
            ).alias("cx"),
            F.col("cyc"),
        )
        .select(
            "c_custkey",
            "lon",
            "lat",
            "cx",
            F.explode(
                F.filter(
                    F.array(F.col("cyc") - 1, F.col("cyc"), F.col("cyc") + 1),
                    lambda y: (y >= 0) & (y < _LAT_CELLS),
                )
            ).alias("cy"),
        )
        .join(scell, ["cx", "cy"])
    )
    grid_top = _knn_rank_top3(cand)

    # --- exactness certificate -------------------------------------------
    # in-cell lon offset and angular margin to the ring's lon boundary
    o = F.col("lon") - (F.col("cxc") * C - 180.0)
    mlon = F.col("w") * C + F.least(o, C - o)
    # perpendicular-foot latitude on the boundary meridian, clamped to the
    # ring's lat band: the nearest outside-the-lon-band point sits there
    phif = F.degrees(F.atan(F.tan(F.col("lat") * F.lit(rad)) / F.cos(mlon * F.lit(rad))))
    latc = F.greatest(F.col("lat_lo"), F.least(F.col("lat_hi"), phif))
    safe_lon_df = geom.withColumn("slat", latc).withColumn("slon", F.col("lon") + mlon)
    inf = F.lit(1e18)
    safe = (
        safe_lon_df.withColumn(
            "safe_lon", F.when(F.col("covered_all_lon"), inf).otherwise(_knn_haversine())
        )
        .withColumn(
            "safe_dn",
            F.when(F.col("lat_lo") <= -89.999, inf).otherwise(
                (F.col("lat") - F.col("lat_lo")) * _KM_PER_DEG
            ),
        )
        .withColumn(
            "safe_up",
            F.when(F.col("lat_hi") >= 89.999, inf).otherwise(
                (F.col("lat_hi") - F.col("lat")) * _KM_PER_DEG
            ),
        )
        .select(
            "c_custkey", F.least("safe_lon", "safe_dn", "safe_up").alias("safe_km")
        )
    )
    stats = grid_top.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_top"), F.max("dist_km").alias("d3")
    )
    certified = (
        stats.join(safe, "c_custkey")
        .filter((F.col("n_top") == 3) & (F.col("d3") < F.col("safe_km") - 1e-6))
        .select("c_custkey")
    )
    escapes = cust.join(certified, "c_custkey", "left_anti")
    return grid_top.join(certified, "c_custkey", "left_semi").unionByName(
        _geo_knn_attach(escapes, supp)
    )


# --------------------------------------------------------------------------
# G12 reference lifecycle end-to-end as a driver-checkable query (round 5)
# --------------------------------------------------------------------------
def _e2e_input(
    sf_dir: str, suffix: str, write: Callable[[list[int], TextIO], None]
) -> str:
    """A generated pipeline input: ``write`` renders the sorted customer
    keys (bounded driver-side pyarrow read, no Spark collect) into it,
    published once per customer file under the layout root."""
    import pyarrow.parquet as _pq

    from duckdb_postgis_spark.plans import layout

    def build(tmp: str) -> None:
        keys = _pq.read_table(
            f"{sf_dir}/customer.parquet", columns=["c_custkey"]
        ).column(0).to_pylist()
        with open(tmp, "w") as fh:
            write(sorted(keys), fh)

    path = (
        f"{layout._LAYOUT_ROOT}/geo_e2e_"
        f"{layout._token(sf_dir, 'customer')}{suffix}"
    )
    layout.publish(path, build)
    return path


@query(
    "pipeline_geo_file_e2e",
    oracle=f"""
    SELECT CAST(c_custkey AS BIGINT) AS id,
           'POINT (' || CAST(CAST({_LON} AS DOUBLE) AS VARCHAR) || ' '
                     || CAST(CAST({_LAT} AS DOUBLE) AS VARCHAR) || ')'
               AS geom_wkt,
           'CSV' AS file_type,
           '4326' AS source_crs,
           'geom_from_longitude_latitude' AS geom_col
    FROM customer
    ORDER BY id
    """,
)
def pipeline_geo_file_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE file lifecycle (core_processor.rs:463-476:
    sniff → read → coordinate-pair detect → CRS infer → point-WKT
    synthesis) run end-to-end through ``pipeline.process_file`` on a real
    CSV on disk, surfaced as one driver-checkable query: the output rows
    carry the transformed WKT AND the pipeline's own metadata verdicts
    (file_type, inferred CRS, synthesized geometry column name) as
    columns, so a regression in ANY lifecycle stage — the sniffer, the
    14-pattern pair match, the CRS range ladder, the WKT writer — is a
    driver hash failure, not just a unit-test failure.

    The CSV derives deterministically from the customer dim (driver-side
    pyarrow read of a dimension table — bounded, no Spark collect); both
    lon and lat are exact .5 decimals so double→string formatting agrees
    across engines."""

    def write(keys: list[int], fh: TextIO) -> None:
        fh.write("id,longitude,latitude\n")
        for k in keys:
            fh.write(f"{k},{(k % 360) - 179.5:.1f},{(k % 180) - 89.5:.1f}\n")

    path = _e2e_input(sf_dir, ".csv", write)
    from duckdb_postgis_spark.pipeline import process_file

    res = process_file(spark, path)
    return (
        res.dataframe.select(
            F.col("id").cast("long").alias("id"),
            F.col(f"{res.geom_columns[0]}_wkt").alias("geom_wkt"),
            F.lit(res.file_type).alias("file_type"),
            F.lit(res.source_crs).alias("source_crs"),
            F.lit(res.geom_columns[0]).alias("geom_col"),
        )
        .orderBy("id")
    )


@query(
    "pipeline_geojson_e2e",
    oracle=f"""
    SELECT CAST(c_custkey AS BIGINT) AS id,
           'POINT (' || CAST(CAST({_LON} AS DOUBLE) AS VARCHAR) || ' '
                     || CAST(CAST({_LAT} AS DOUBLE) AS VARCHAR) || ')'
               AS geom_wkt,
           'GeoJSON' AS file_type,
           '4326' AS source_crs,
           'geometry_wkt' AS geom_col
    FROM customer
    ORDER BY id
    """,
)
def pipeline_geojson_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12's GeoJSON twin: the whole reference lifecycle through the
    SECOND reader path — content-based GeoJSON sniffing
    (core_processor.rs:373-388), FeatureCollection explode + pure-python
    geometry→WKT codec (st_read analog, core_processor.rs:393-398),
    geometry-column detection on the WKT text column
    (core_processor.rs:165-195), coordinate-probe CRS inference on WKT
    (geo_strategy.rs:105-131 ladder → lon/lat range → 4326), and the
    4326→4326 short-circuit transform (geo_strategy.rs:281-291).  Output
    carries the WKT and every lifecycle verdict, so a regression in any
    stage of the GEOJSON path is a driver hash failure.

    The file derives deterministically from the customer dim (bounded
    driver-side pyarrow read, G12 pattern); .5-decimal coordinates keep
    double→string formatting engine-identical."""
    import json as _json

    def write(keys: list[int], fh: TextIO) -> None:
        feats = [
            {
                "type": "Feature",
                "properties": {"id": k},
                "geometry": {
                    "type": "Point",
                    "coordinates": [(k % 360) - 179.5, (k % 180) - 89.5],
                },
            }
            for k in keys
        ]
        _json.dump({"type": "FeatureCollection", "features": feats}, fh)

    path = _e2e_input(sf_dir, ".geojson", write)
    from duckdb_postgis_spark.pipeline import process_file

    res = process_file(spark, path)
    return (
        res.dataframe.select(
            F.col("id").cast("long").alias("id"),
            F.col(f"{res.geom_columns[0]}_wkt").alias("geom_wkt"),
            F.lit(res.file_type).alias("file_type"),
            F.lit(res.source_crs).alias("source_crs"),
            F.lit(res.geom_columns[0]).alias("geom_col"),
        )
        .orderBy("id")
    )


@query(
    "pipeline_nongeo_e2e",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS id,
           CAST(c_custkey % 97 AS BIGINT) AS amount,
           'CSV' AS file_type,
           '4326' AS source_crs,
           CAST(0 AS BIGINT) AS n_geom_cols
    FROM customer
    ORDER BY id
    """,
)
def pipeline_nongeo_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's NonGeoStrategy lifecycle (non_geo_strategy.rs:11-28)
    end-to-end: a file with NO geometry columns and NO coordinate-pair
    match must pass through ``process_file`` as a straight copy — no
    synthesized columns, no transform, geometry verdict empty — which is
    exactly the branch G12/G13 never take (core_processor.rs:108-114
    dispatches on geom_columns.is_empty()).  A false-positive in the
    coordinate-pair matcher (e.g. a non-coordinate column name suddenly
    matching one of the 14 patterns) changes the output schema and fails
    the driver hash."""

    def write(keys: list[int], fh: TextIO) -> None:
        fh.write("id,amount\n")
        for k in keys:
            fh.write(f"{k},{k % 97}\n")

    path = _e2e_input(sf_dir, "_nongeo.csv", write)
    from duckdb_postgis_spark.pipeline import process_file

    res = process_file(spark, path)
    if res.geom_columns or res.coordinate_pair is not None:
        # explicit raise, not assert: the invariant must hold under
        # ``python -O`` too (ADVICE r6) — a false-positive pair match here
        # means the NonGeoStrategy dispatch verdict is wrong
        raise ValueError(
            "pipeline_nongeo_e2e: lifecycle misdetected geometry on a "
            f"non-geo file (geom_columns={res.geom_columns!r}, "
            f"coordinate_pair={res.coordinate_pair!r})"
        )
    return (
        res.dataframe.select(
            F.col("id").cast("long").alias("id"),
            F.col("amount").cast("long").alias("amount"),
            F.lit(res.file_type).alias("file_type"),
            F.lit(res.source_crs).alias("source_crs"),
            F.lit(len(res.geom_columns)).cast("long").alias("n_geom_cols"),
        )
        .orderBy("id")
    )


# --------------------------------------------------------------------------
# G15 spatial hotspot detection (neighborhood-smoothed density) — round 10
# --------------------------------------------------------------------------
_HOT_CELL = 5  # degrees per hotspot grid cell (finer than the G9 rollup)


@query(
    "geo_hotspot_cells",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(floor({_LON} / {_HOT_CELL}) AS INT) AS cx,
               CAST(floor({_LAT} / {_HOT_CELL}) AS INT) AS cy,
               COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    ),
    offs AS (
        SELECT dx, dy
        FROM (SELECT unnest([-1, 0, 1]) AS dx), (SELECT unnest([-1, 0, 1]) AS dy)
    ),
    neigh AS (
        SELECT a.cx, a.cy,
               CAST(MAX(CASE WHEN o.dx = 0 AND o.dy = 0 THEN b.n END) AS BIGINT)
                   AS own_n,
               CAST(SUM(b.n) AS BIGINT) AS neigh_n
        FROM cells a
        JOIN offs o ON TRUE
        JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
        GROUP BY a.cx, a.cy
    )
    SELECT cx, cy, own_n, neigh_n
    FROM neigh
    ORDER BY neigh_n DESC, cx, cy
    LIMIT 10
    """,
)
def geo_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial HOTSPOT detection (a Getis-Ord-G*-lite): points quantize to
    5-degree cells; each cell's heat is the SUM over its 3x3 neighbor block
    (own count rides along), and the top-10 hottest cells surface under
    the total order (neigh_n, cx, cy).  Neighborhood smoothing is what
    separates a genuine spatial cluster from a lone dense cell — the
    standard first pass of spatial-anomaly pipelines.  All-integer
    arithmetic: exact counts, exact sums, deterministic ranking.

    Scale: the raw scan partial-aggs to |cells| rows (bounded by the grid
    resolution, 72x36 here — NOT by corpus size), then the neighbor probe
    is a 9-way offset explode + equi-join on integer cell keys between two
    |cells|-row frames — broadcastable at any corpus size because the cell
    table is resolution-bounded.  Points never ride the neighbor join.
    TakeOrdered top-10.  This is the cell-join pattern of
    `geo_bbox_join_grid` re-pointed at density smoothing."""
    c = _coords(spark, sf_dir)
    cells = c.groupBy(
        F.floor(F.col("lon") / _HOT_CELL).cast("int").alias("cx"),
        F.floor(F.col("lat") / _HOT_CELL).cast("int").alias("cy"),
    ).agg(F.count("*").alias("n"))
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("int").alias("dx"),
        (F.col("id") / 3).cast("int").alias("dy"),
    ).select("dx", (F.col("dy") - 1).cast("int").alias("dy"))
    probes = cells.select("cx", "cy").crossJoin(F.broadcast(offs))
    b = cells.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("n")
    )
    neigh = (
        probes.join(
            b,
            (b.bx == probes.cx + F.col("dx")) & (b.by == probes.cy + F.col("dy")),
        )
        .groupBy("cx", "cy")
        .agg(
            F.max(
                F.when((F.col("dx") == 0) & (F.col("dy") == 0), F.col("n"))
            ).alias("own_n"),
            F.sum("n").alias("neigh_n"),
        )
    )
    return neigh.select("cx", "cy", "own_n", "neigh_n").orderBy(
        F.col("neigh_n").desc(), "cx", "cy"
    ).limit(10)


# --------------------------------------------------------------------------
# R12 polygon predicates — the PostGIS workhorses the point-only geo
# surface lacked: ST_Contains(point) by ray casting, ST_Area/ST_Centroid
# on polygons (the reference's users run these daily; geo.py had points,
# cells, bboxes and distances, never a polygon interior)
# --------------------------------------------------------------------------
#: fixed test polygons (lon/lat vertex rings, INTEGER coordinates only —
#: every shoelace/centroid term is then exact in a double, so the SUM
#: order cannot shift a bit cross-engine).  No two consecutive vertices
#: share a y (no horizontal edges): the ray-cast indicator's division by
#: (y2 - y1) is evaluated eagerly by both vectorized engines even when
#: the CASE condition is false, so a horizontal edge would divide by 0.
#: Non-convex on purpose (the L-shape and the dented quad) — parity ray
#: casting must handle re-entrant rings.
#: the synthetic customer points all lie on two diagonals of the
#: lon/lat plane (lat = lon + 90 west of 0, lat = lon - 90 east —
#: c_custkey drives both coordinates), so each ring below deliberately
#: straddles one of the diagonals to keep its interior populated.
_POLYGONS: dict[int, list[tuple[int, int]]] = {
    1: [(-150, -60), (-60, -58), (-62, -20), (-100, -22), (-98, 40), (-150, 38)],
    2: [(0, -30), (60, -45), (90, 10), (45, 55), (-10, 30)],
    3: [(100, 5), (170, 9), (135, 85)],
    4: [(-60, 41), (0, 39), (-5, 79), (-30, 55), (-55, 81)],
}
_POLY_EDGES: list[tuple[int, int, int, int, int]] = [
    (pid, v[i][0], v[i][1], v[(i + 1) % len(v)][0], v[(i + 1) % len(v)][1])
    for pid, v in _POLYGONS.items()
    for i in range(len(v))
]
_POLY_EDGES_SQL = ", ".join(
    f"({p}, {a}.0, {b}.0, {c}.0, {d}.0)" for p, a, b, c, d in _POLY_EDGES
)


def _poly_edges_df(spark: SparkSession, broadcast: bool = True) -> DataFrame:
    df = spark.createDataFrame(
        [(p, float(a), float(b), float(c), float(d))
         for p, a, b, c, d in _POLY_EDGES],
        "pid INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )
    # the hint only applies on a join side; the area op aggregates the
    # edge table directly and a dangling hint just logs a warning
    return F.broadcast(df) if broadcast else df


@query(
    "geo_point_in_polygon",
    oracle=f"""
    WITH edges(pid, x1, y1, x2, y2) AS (VALUES {_POLY_EDGES_SQL}),
    pts AS (
        SELECT c_custkey, CAST({_LON} AS DOUBLE) AS px,
               CAST({_LAT} AS DOUBLE) AS py
        FROM customer
    ),
    cr AS (
        SELECT p.c_custkey, e.pid,
               SUM(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py))
                         AND (p.px < (e.x2 - e.x1) * (p.py - e.y1)
                                     / (e.y2 - e.y1) + e.x1)
                   THEN 1 ELSE 0 END) AS c
        FROM pts p CROSS JOIN edges e
        GROUP BY 1, 2
    ),
    ins AS (SELECT pid, c_custkey FROM cr WHERE c % 2 = 1)
    SELECT d.pid,
           CAST(COUNT(i.c_custkey) AS BIGINT) AS n_inside,
           CAST(COALESCE(SUM(i.c_custkey), 0) AS BIGINT) AS sum_inside_keys
    FROM (SELECT DISTINCT pid FROM edges) d
    LEFT JOIN ins i USING (pid)
    GROUP BY d.pid ORDER BY d.pid
    """,
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains(polygon, point) by even-odd RAY CASTING — per fixed
    polygon, how many customer points fall inside and the sum of their
    keys (membership hash-verified key-by-key, not just counted).  The
    crossing test is the textbook half-open rule: an eastward ray from
    the point crosses edge (v1, v2) iff the edge spans the point's
    latitude and the intersection lies east — `(y1>py) != (y2>py) AND
    px < (x2-x1)*(py-y1)/(y2-y1) + x1`.  Every term is exact (integer
    vertices, half-offset decimal points) except ONE IEEE division, and
    both engines evaluate the identical expression, so the parity bits
    match bit-for-bit; non-convex rings work because parity counts
    re-entries.

    Scale: the edge table broadcasts (a polygon overlay is small by
    nature — and a HUGE one goes through the geo_bbox_join_grid cell
    prefilter first so each point meets only its cell's candidate
    polygons); the per-point work is |edges| codegen'd comparisons, the
    parity is a partial-agg groupBy, and points never shuffle wider
    than (key, pid, crossings)."""
    pts = _coords(spark, sf_dir).select(
        "c_custkey",
        F.col("lon").cast("double").alias("px"),
        F.col("lat").cast("double").alias("py"),
    )
    e = _poly_edges_df(spark)
    ind = (
        (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    ) & (
        F.col("px")
        < (F.col("x2") - F.col("x1"))
        * (F.col("py") - F.col("y1"))
        / (F.col("y2") - F.col("y1"))
        + F.col("x1")
    )
    cr = (
        pts.crossJoin(e)
        .groupBy("c_custkey", "pid")
        .agg(F.sum(F.when(ind, 1).otherwise(0)).alias("c"))
    )
    ins = cr.filter(F.col("c") % 2 == 1)
    pids = spark.createDataFrame(
        [(p,) for p in sorted(_POLYGONS)], "pid INT"
    )
    return (
        pids.join(ins, "pid", "left")
        .groupBy("pid")
        .agg(
            F.count("c_custkey").alias("n_inside"),
            F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long")
            .alias("sum_inside_keys"),
        )
        .orderBy("pid")
    )


@query(
    "geo_polygon_area",
    oracle=f"""
    WITH edges(pid, x1, y1, x2, y2) AS (VALUES {_POLY_EDGES_SQL}),
    s AS (
        SELECT pid,
               CAST(COUNT(*) AS BIGINT) AS n_vertices,
               SUM(x1 * y2 - x2 * y1) AS cross2,
               SUM((x1 + x2) * (x1 * y2 - x2 * y1)) AS cxn,
               SUM((y1 + y2) * (x1 * y2 - x2 * y1)) AS cyn,
               MIN(LEAST(x1, x2)) AS bbox_xmin,
               MAX(GREATEST(x1, x2)) AS bbox_xmax,
               MIN(LEAST(y1, y2)) AS bbox_ymin,
               MAX(GREATEST(y1, y2)) AS bbox_ymax
        FROM edges GROUP BY pid
    )
    SELECT pid, n_vertices,
           ABS(cross2) / 2.0 AS area,
           cxn / (3.0 * cross2) AS centroid_x,
           cyn / (3.0 * cross2) AS centroid_y,
           bbox_xmin, bbox_xmax, bbox_ymin, bbox_ymax
    FROM s ORDER BY pid
    """,
)
def geo_polygon_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area / ST_Centroid / ST_Envelope on polygon RINGS via the
    shoelace formula — the polygon-side metadata pass (geo.py's existing
    centroid is the point-cloud mean; this is the area-weighted polygon
    centroid PostGIS returns for ST_Centroid(polygon)).  Integer
    vertices make every shoelace and centroid-moment term exact in a
    double, so the aggregation ORDER cannot shift a bit and the only
    roundings are the final divisions — identical IEEE on both engines.

    Scale: one partial-agg groupBy over the edge table — polygon
    metadata is linear in total vertices and embarrassingly parallel;
    at 100 TB of polygons this is the scan-side stats pass feeding the
    bbox-grid index (geo_bbox_join_grid)."""
    e = _poly_edges_df(spark, broadcast=False)
    cross = F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
    s = e.groupBy("pid").agg(
        F.count("*").alias("n_vertices"),
        F.sum(cross).alias("cross2"),
        F.sum((F.col("x1") + F.col("x2")) * cross).alias("cxn"),
        F.sum((F.col("y1") + F.col("y2")) * cross).alias("cyn"),
        F.min(F.least("x1", "x2")).alias("bbox_xmin"),
        F.max(F.greatest("x1", "x2")).alias("bbox_xmax"),
        F.min(F.least("y1", "y2")).alias("bbox_ymin"),
        F.max(F.greatest("y1", "y2")).alias("bbox_ymax"),
    )
    return s.select(
        "pid",
        "n_vertices",
        (F.abs("cross2") / 2.0).alias("area"),
        (F.col("cxn") / (3.0 * F.col("cross2"))).alias("centroid_x"),
        (F.col("cyn") / (3.0 * F.col("cross2"))).alias("centroid_y"),
        "bbox_xmin",
        "bbox_xmax",
        "bbox_ymin",
        "bbox_ymax",
    ).orderBy("pid")


# --------------------------------------------------------------------------
# R13 polygon-polygon ST_Intersects overlay join (r12 judge order #3) —
# the most common PostGIS join after point-in-polygon: two polygon SETS,
# grid-cell bbox prefilter (the geo_bbox_join_grid discipline), then an
# exact verify in pure integer arithmetic.
# --------------------------------------------------------------------------
#: second fixed polygon set (the overlay's right side).  Same integer-
#: vertex discipline as _POLYGONS; shapes chosen to pin every relation
#: class: B11 crosses A2; B12 is NESTED inside A3 (intersects with zero
#: edge hits — the containment term earns its keep); B13 is fully
#: disjoint (never even a grid candidate); B14 sits in A1's L-notch
#: (bbox overlap -> grid candidate, exact verify rejects); B15 shares a
#: collinear edge segment with A2 (touch via d=0 + on-segment); B16
#: touches A4 at exactly the vertex (0, 39) and crosses A2.
_POLYGONS_B: dict[int, list[tuple[int, int]]] = {
    11: [(30, -10), (70, -12), (72, 30), (28, 32)],
    12: [(125, 20), (140, 22), (132, 40)],
    13: [(-170, 60), (-160, 62), (-165, 75)],
    14: [(-90, 0), (-70, 1), (-72, 20), (-88, 21)],
    15: [(20, -35), (40, -40), (30, -60)],
    16: [(0, 39), (20, 20), (25, 38)],
}
_POLY_EDGES_B: list[tuple[int, int, int, int, int]] = [
    (qid, v[i][0], v[i][1], v[(i + 1) % len(v)][0], v[(i + 1) % len(v)][1])
    for qid, v in _POLYGONS_B.items()
    for i in range(len(v))
]
_POLY_EDGES_B_SQL = ", ".join(
    f"({q}, {a}.0, {b}.0, {c}.0, {d}.0)" for q, a, b, c, d in _POLY_EDGES_B
)
#: grid cell size for the overlay prefilter (degrees); both engines
#: compute the cell of a coordinate as FLOOR(x / 45.0) — true floor, so
#: the signed-coordinate DIV-vs-floor trap never applies
_OVERLAY_CELL = 45.0


def _poly_edges_b_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(q, float(a), float(b), float(c), float(d))
         for q, a, b, c, d in _POLY_EDGES_B],
        "qid INT, u1 DOUBLE, v1 DOUBLE, u2 DOUBLE, v2 DOUBLE",
    )


def _polygon_overlay_oracle_sql(
    ea_sql: str = _POLY_EDGES_SQL, eb_sql: str = _POLY_EDGES_B_SQL
) -> str:
    """Templated DuckDB replay of the WHOLE overlay pipeline (grid
    prefilter + orientation-sign verify + anchor parity) over any two
    edge VALUES lists — the registered oracle uses the fixed sets; the
    differential fuzz family (tests/test_fuzz_polygon_overlay.py)
    drives random integer polygon sets through the same template."""
    return f"""
    WITH ea(pid, x1, y1, x2, y2) AS (VALUES {ea_sql}),
    eb(qid, u1, v1, u2, v2) AS (VALUES {eb_sql}),
    box_a AS (
        SELECT pid, MIN(LEAST(x1, x2)) AS xmin, MAX(GREATEST(x1, x2)) AS xmax,
               MIN(LEAST(y1, y2)) AS ymin, MAX(GREATEST(y1, y2)) AS ymax
        FROM ea GROUP BY pid
    ),
    box_b AS (
        SELECT qid, MIN(LEAST(u1, u2)) AS xmin, MAX(GREATEST(u1, u2)) AS xmax,
               MIN(LEAST(v1, v2)) AS ymin, MAX(GREATEST(v1, v2)) AS ymax
        FROM eb GROUP BY qid
    ),
    cells_a AS (
        SELECT pid, t.cx, s.cy
        FROM box_a,
             unnest(generate_series(CAST(FLOOR(xmin / {_OVERLAY_CELL}) AS BIGINT),
                                    CAST(FLOOR(xmax / {_OVERLAY_CELL}) AS BIGINT))) AS t(cx),
             unnest(generate_series(CAST(FLOOR(ymin / {_OVERLAY_CELL}) AS BIGINT),
                                    CAST(FLOOR(ymax / {_OVERLAY_CELL}) AS BIGINT))) AS s(cy)
    ),
    cells_b AS (
        SELECT qid, t.cx, s.cy
        FROM box_b,
             unnest(generate_series(CAST(FLOOR(xmin / {_OVERLAY_CELL}) AS BIGINT),
                                    CAST(FLOOR(xmax / {_OVERLAY_CELL}) AS BIGINT))) AS t(cx),
             unnest(generate_series(CAST(FLOOR(ymin / {_OVERLAY_CELL}) AS BIGINT),
                                    CAST(FLOOR(ymax / {_OVERLAY_CELL}) AS BIGINT))) AS s(cy)
    ),
    cand AS (
        SELECT DISTINCT a.pid, b.qid
        FROM cells_a a JOIN cells_b b ON a.cx = b.cx AND a.cy = b.cy
    ),
    hits AS (
        SELECT c.pid, c.qid,
               CAST(SUM(CASE WHEN (
                   (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                    AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
                OR (d1 = 0 AND x1 BETWEEN LEAST(u1, u2) AND GREATEST(u1, u2)
                            AND y1 BETWEEN LEAST(v1, v2) AND GREATEST(v1, v2))
                OR (d2 = 0 AND x2 BETWEEN LEAST(u1, u2) AND GREATEST(u1, u2)
                            AND y2 BETWEEN LEAST(v1, v2) AND GREATEST(v1, v2))
                OR (d3 = 0 AND u1 BETWEEN LEAST(x1, x2) AND GREATEST(x1, x2)
                            AND v1 BETWEEN LEAST(y1, y2) AND GREATEST(y1, y2))
                OR (d4 = 0 AND u2 BETWEEN LEAST(x1, x2) AND GREATEST(x1, x2)
                            AND v2 BETWEEN LEAST(y1, y2) AND GREATEST(y1, y2))
               ) THEN 1 ELSE 0 END) AS BIGINT) AS n_edge_hits
        FROM cand c
        JOIN ea ON ea.pid = c.pid
        JOIN eb ON eb.qid = c.qid
        CROSS JOIN LATERAL (SELECT
            (u2 - u1) * (y1 - v1) - (v2 - v1) * (x1 - u1) AS d1,
            (u2 - u1) * (y2 - v1) - (v2 - v1) * (x2 - u1) AS d2,
            (x2 - x1) * (v1 - y1) - (y2 - y1) * (u1 - x1) AS d3,
            (x2 - x1) * (v2 - y1) - (y2 - y1) * (u2 - x1) AS d4) o
        GROUP BY 1, 2
    ),
    anch_a AS (
        SELECT pid, x1 AS ax, y1 AS ay FROM (
            SELECT pid, x1, y1,
                   ROW_NUMBER() OVER (PARTITION BY pid ORDER BY x1, y1) AS rn
            FROM ea) WHERE rn = 1
    ),
    anch_b AS (
        SELECT qid, u1 AS bx, v1 AS by FROM (
            SELECT qid, u1, v1,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY u1, v1) AS rn
            FROM eb) WHERE rn = 1
    ),
    a_in AS (
        SELECT c.pid, c.qid,
               CAST(SUM(CASE WHEN ((v1 > ay) <> (v2 > ay))
                         AND (((u2 - u1) * (ay - v1) - (ax - u1) * (v2 - v1) > 0)
                              = (v2 > v1))
                   THEN 1 ELSE 0 END) % 2 AS BIGINT) AS a_in_b
        FROM cand c
        JOIN anch_a n ON n.pid = c.pid
        JOIN eb ON eb.qid = c.qid
        GROUP BY 1, 2
    ),
    b_in AS (
        SELECT c.pid, c.qid,
               CAST(SUM(CASE WHEN ((y1 > by) <> (y2 > by))
                         AND (((x2 - x1) * (by - y1) - (bx - x1) * (y2 - y1) > 0)
                              = (y2 > y1))
                   THEN 1 ELSE 0 END) % 2 AS BIGINT) AS b_in_a
        FROM cand c
        JOIN anch_b n ON n.qid = c.qid
        JOIN ea ON ea.pid = c.pid
        GROUP BY 1, 2
    )
    SELECT h.pid, h.qid, h.n_edge_hits, a.a_in_b, b.b_in_a
    FROM hits h
    JOIN a_in a ON a.pid = h.pid AND a.qid = h.qid
    JOIN b_in b ON b.pid = h.pid AND b.qid = h.qid
    WHERE h.n_edge_hits > 0 OR a.a_in_b = 1 OR b.b_in_a = 1
    ORDER BY h.pid, h.qid
    """


@query("geo_polygon_intersects_join", oracle=_polygon_overlay_oracle_sql())
def geo_polygon_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon-polygon ST_Intersects OVERLAY JOIN — two polygon sets
    (_POLYGONS x _POLYGONS_B), grid-cell bbox prefilter, exact verify:
    a pair intersects iff any edge pair crosses/touches (segment
    intersection via cross-product orientation signs — integer vertices
    keep every d-term exact, so the sign tests are bit-identical
    cross-engine) OR one ring contains the other's anchor vertex
    (even-odd ray parity in the MULTIPLICATION form — no division at
    all, so unlike geo_point_in_polygon's indicator even a horizontal
    edge would be safe).  Emits each intersecting pair with its edge-hit
    count and the two containment parities, so crossing (hits>0),
    shared-edge/vertex touches (collinear d=0 + on-segment), and pure
    nesting (hits=0, containment=1) are all hash-pinned; the
    bbox-overlap-but-disjoint shape (B14 in A1's L-notch) pins that the
    grid prefilter's false positives are rejected by the verify.

    Scale (the never-all-pairs path): candidate discovery is an
    EQUI-join on (cx, cy) grid cells — each polygon registers in the
    cells its bbox overlaps, so two 10⁸-polygon sets meet only within a
    cell (the geo_bbox_join_grid discipline; skewed mega-cells split by
    the same salting recipe).  The edge cross-product verify is then
    per-candidate-pair work: |edges_A| x |edges_B| comparisons inside
    whole-stage codegen, never materialized wider than
    (pid, qid, d-signs).  Reference feeds this via its WKT
    normalization (geo_strategy.rs:105-183 probe ladder)."""
    return _polygon_intersects_pairs(
        _poly_edges_df(spark, broadcast=False), _poly_edges_b_df(spark)
    )


def _polygon_intersects_pairs(ea: DataFrame, eb: DataFrame) -> DataFrame:
    """Core of geo_polygon_intersects_join over any two edge frames
    (ea: pid,x1,y1,x2,y2; eb: qid,u1,v1,u2,v2) — factored out so the
    differential fuzz family can drive it with random polygon sets
    against _polygon_overlay_oracle_sql on the same edges."""
    cell = lambda c: F.floor(F.col(c) / F.lit(_OVERLAY_CELL))  # noqa: E731

    def boxes(e: DataFrame, key: str, x1, y1, x2, y2) -> DataFrame:
        return e.groupBy(key).agg(
            F.min(F.least(x1, x2)).alias("xmin"),
            F.max(F.greatest(x1, x2)).alias("xmax"),
            F.min(F.least(y1, y2)).alias("ymin"),
            F.max(F.greatest(y1, y2)).alias("ymax"),
        )

    def cells(box: DataFrame, key: str) -> DataFrame:
        return box.select(
            key,
            F.explode(F.sequence(cell("xmin"), cell("xmax"))).alias("cx"),
            "ymin",
            "ymax",
        ).select(
            key, "cx", F.explode(F.sequence(cell("ymin"), cell("ymax"))).alias("cy")
        )

    cand = (
        cells(boxes(ea, "pid", "x1", "y1", "x2", "y2"), "pid")
        .join(cells(boxes(eb, "qid", "u1", "v1", "u2", "v2"), "qid"), ["cx", "cy"])
        .select("pid", "qid")
        .distinct()
    )

    c = F.col
    d1 = (c("u2") - c("u1")) * (c("y1") - c("v1")) - (c("v2") - c("v1")) * (c("x1") - c("u1"))
    d2 = (c("u2") - c("u1")) * (c("y2") - c("v1")) - (c("v2") - c("v1")) * (c("x2") - c("u1"))
    d3 = (c("x2") - c("x1")) * (c("v1") - c("y1")) - (c("y2") - c("y1")) * (c("u1") - c("x1"))
    d4 = (c("x2") - c("x1")) * (c("v2") - c("y1")) - (c("y2") - c("y1")) * (c("u2") - c("x1"))

    def onseg(px, py, ax, ay, bx, by):
        return (
            px.between(F.least(ax, bx), F.greatest(ax, bx))
            & py.between(F.least(ay, by), F.greatest(ay, by))
        )

    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    touch = (
        ((d1 == 0) & onseg(c("x1"), c("y1"), c("u1"), c("v1"), c("u2"), c("v2")))
        | ((d2 == 0) & onseg(c("x2"), c("y2"), c("u1"), c("v1"), c("u2"), c("v2")))
        | ((d3 == 0) & onseg(c("u1"), c("v1"), c("x1"), c("y1"), c("x2"), c("y2")))
        | ((d4 == 0) & onseg(c("u2"), c("v2"), c("x1"), c("y1"), c("x2"), c("y2")))
    )
    hits = (
        cand.join(ea, "pid")
        .join(eb, "qid")
        .groupBy("pid", "qid")
        .agg(F.sum(F.when(proper | touch, 1).otherwise(0)).alias("n_edge_hits"))
    )

    from pyspark.sql.window import Window

    def anchor(e: DataFrame, key: str, x: str, y: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(x, y)
        return (
            e.select(key, x, y, F.row_number().over(w).alias("rn"))
            .filter(c("rn") == 1)
            .drop("rn")
        )

    anch_a = anchor(ea, "pid", "x1", "y1").withColumnsRenamed(
        {"x1": "ax", "y1": "ay"}
    )
    anch_b = anchor(eb, "qid", "u1", "v1").withColumnsRenamed(
        {"u1": "bx", "v1": "by"}
    )

    def parity(cand_df, anch, edges, key_a, key_e, px, py, x1, y1, x2, y2, out):
        spans = (c(y1) > c(py)) != (c(y2) > c(py))
        t = (c(x2) - c(x1)) * (c(py) - c(y1)) - (c(px) - c(x1)) * (c(y2) - c(y1))
        ind = spans & ((t > 0) == (c(y2) > c(y1)))
        return (
            cand_df.join(anch, key_a)
            .join(edges, key_e)
            .groupBy("pid", "qid")
            .agg((F.sum(F.when(ind, 1).otherwise(0)) % 2).alias(out))
        )

    a_in = parity(cand, anch_a, eb, "pid", "qid", "ax", "ay", "u1", "v1", "u2", "v2", "a_in_b")
    b_in = parity(cand, anch_b, ea, "qid", "pid", "bx", "by", "x1", "y1", "x2", "y2", "b_in_a")
    return (
        hits.join(a_in, ["pid", "qid"])
        .join(b_in, ["pid", "qid"])
        .filter((c("n_edge_hits") > 0) | (c("a_in_b") == 1) | (c("b_in_a") == 1))
        .select("pid", "qid", "n_edge_hits", "a_in_b", "b_in_a")
        .orderBy("pid", "qid")
    )
