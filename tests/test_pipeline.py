"""End-to-end pipeline tests: process_file on synthesized fixture files of
every supported format (the reference's integration surface, exercised
without a live PostGIS — sink DDL is asserted as SQL text)."""

from __future__ import annotations

import pytest

from duckdb_postgis_spark.pipeline import process_file
from duckdb_postgis_spark.sinks.postgis import (
    clean_table_name,
    create_schema_sql,
    drop_table_sql,
    geometry_rebuild_sql,
    postgis_uri_to_jdbc,
)


#: the CSV files these tests write, by name (``tests/test_read_csv.py``
#: reads each of them both ways)
CSV_FILES = {
    "cities.csv": "name,longitude,latitude\nLondon,-0.1276,51.5072\nParis,2.3522,48.8566\nNull,,\n",
    "uk.csv": "site,Easting,Northing\nGreenwich,538890,177320\nYork,460150,452150\n",
    "plain.csv": "id,name,amount\n1,a,10\n2,b,20\n",
}


def test_csv_with_lonlat(spark, tmp_path):
    p = tmp_path / "cities.csv"
    p.write_text(CSV_FILES["cities.csv"])
    res = process_file(spark, str(p))
    assert res.file_type == "CSV"
    assert res.coordinate_pair == ("longitude", "latitude")
    assert res.geom_columns == ["geom_from_longitude_latitude"]
    assert res.source_crs == "4326"
    rows = res.dataframe.collect()
    assert len(rows) == 2  # null coords filtered (geo_strategy.rs:328)
    wkts = {r["geom_from_longitude_latitude_wkt"] for r in rows}
    assert "POINT (-0.1276 51.5072)" in wkts


def test_csv_with_bng_reprojects(spark, tmp_path):
    p = tmp_path / "uk.csv"
    p.write_text(CSV_FILES["uk.csv"])
    res = process_file(spark, str(p))
    assert res.source_crs == "27700"
    wkt = res.dataframe.collect()[0]["geom_from_Easting_Northing_wkt"]
    x, y = map(float, wkt[len("POINT (") : -1].split())
    assert abs(y - 51.477) < 2e-3  # Greenwich latitude after reprojection


def test_csv_no_coordinates_non_geo(spark, tmp_path):
    p = tmp_path / "plain.csv"
    p.write_text(CSV_FILES["plain.csv"])
    res = process_file(spark, str(p))
    assert res.geom_columns == []
    assert res.dataframe.count() == 2


def test_geojson_points(spark, tmp_path):
    p = tmp_path / "pts.geojson"
    p.write_text(
        '{"type": "FeatureCollection", "features": ['
        '{"type": "Feature", "geometry": {"type": "Point", "coordinates": [102.0, 0.5]},'
        ' "properties": {"name": "A"}},'
        '{"type": "Feature", "geometry": {"type": "Point", "coordinates": [103.5, 1.25]},'
        ' "properties": {"name": "B"}}]}'
    )
    res = process_file(spark, str(p))
    assert res.file_type == "GeoJSON"
    df = res.dataframe
    assert "geometry_wkt_wkt" in df.columns or "geometry_wkt" in df.columns
    vals = [r for r in df.collect()]
    assert len(vals) == 2


def test_parquet_passthrough(spark, tmp_path):
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    path = str(tmp_path / "t.parquet")
    src.coalesce(1).write.parquet(path)
    import glob

    part = glob.glob(f"{path}/*.parquet")[0]
    res = process_file(spark, part)
    assert res.file_type == "Parquet"
    assert res.geom_columns == []
    assert res.dataframe.count() == 2


def test_zipped_shapefile_end_to_end(spark, tmp_path):
    from duckdb_postgis_spark.sources.readers import write_sample_zip_shapefile

    p = str(tmp_path / "layer.zip")
    write_sample_zip_shapefile(
        p, [(530000.0, 180000.0), (460150.0, 452150.0)], prj="OSGB_1936 British_National_Grid"
    )
    res = process_file(spark, str(p))
    assert res.file_type == "Shapefile"
    df = res.dataframe
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["crs_epsg"] == "27700"


def test_gpkg_reader(spark, tmp_path):
    import sqlite3

    from duckdb_postgis_spark.functions.geo import wkb_point_encode
    from duckdb_postgis_spark.sources.readers import read_geopackage

    p = str(tmp_path / "x.gpkg")
    con = sqlite3.connect(p)
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)"
    )
    con.execute("INSERT INTO gpkg_contents VALUES ('pts', 'features')")
    con.execute(
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT)"
    )
    con.execute("INSERT INTO gpkg_geometry_columns VALUES ('pts', 'geom')")
    con.execute("CREATE TABLE pts (fid INTEGER, name TEXT, geom BLOB)")
    # GPKG binary: magic GP, version 0, flags 0x01 (little-endian, no envelope), srid 4326
    header = b"GP\x00\x01" + (4326).to_bytes(4, "little")
    con.execute(
        "INSERT INTO pts VALUES (1, 'a', ?)",
        (header + wkb_point_encode(-0.1, 51.5),),
    )
    con.commit()
    con.close()
    df = read_geopackage(spark, p)
    row = df.collect()[0]
    assert row["name"] == "a"
    from duckdb_postgis_spark.functions.wkb import wkb_decode

    assert wkb_decode(bytes(row["geom"])) == ("Point", (-0.1, 51.5))


def _write_min_xlsx(path, shared_strings, sheet_xml):
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>',
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook {ns}><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>',
        )
        if shared_strings:
            items = "".join(f"<si><t>{s}</t></si>" for s in shared_strings)
            zf.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst {ns} count="{len(shared_strings)}">{items}</sst>',
            )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>{sheet_xml}</sheetData></worksheet>',
        )


def test_xlsx_stdlib_reader_end_to_end(spark, tmp_path):
    """Pure-stdlib xlsx decode (round-1 gap: stub behind missing openpyxl;
    reference reads xlsx via DuckDB read_xlsx, core_processor.rs:407-412).
    Covers shared strings, inline strings, booleans, int-vs-float numbers,
    blank cells, and the sniffer → process_file dispatch."""
    from duckdb_postgis_spark.pipeline import process_file

    p = str(tmp_path / "t.xlsx")
    _write_min_xlsx(
        p,
        ["name", "qty", "price", "alice", "bob"],
        # header via shared strings; row2 sparse (qty missing), inline str,
        # bool, integral + fractional numbers
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c><c r="D1" t="inlineStr"><is><t>ok</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>3</v></c>'
        '<c r="C2"><v>1.5</v></c><c r="D2" t="b"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>4</v></c><c r="C3"><v>2</v></c></row>',
    )
    df = process_file(spark, p).dataframe
    assert df.columns == ["name", "qty", "price", "ok"]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alice"]["qty"] == 3 and rows["alice"]["price"] == 1.5
    assert rows["alice"]["ok"] is True
    assert rows["bob"]["qty"] is None and rows["bob"]["price"] == 2


def test_legacy_xls_still_raises_cleanly(spark, tmp_path):
    from duckdb_postgis_spark.sources.readers import read_excel

    p = tmp_path / "t.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0" + b"\x00" * 60)
    with pytest.raises((NotImplementedError, ValueError, Exception)):
        read_excel(spark, str(p))


# --- sink SQL text (byte-compatible with geo_strategy.rs:370-414) ---------
def test_clean_table_name():
    assert clean_table_name("/data/My File.geojson") == "My File"
    assert clean_table_name("plain") == "plain"


def test_schema_sql_escaping():
    assert create_schema_sql("it's") == 'CREATE SCHEMA IF NOT EXISTS "it\'\'s";'


def test_drop_sql():
    assert drop_table_sql("s", "t") == 'DROP TABLE IF EXISTS "s"."t";'


def test_geometry_rebuild_sql_shape():
    sql = geometry_rebuild_sql("s", "t", "geom")
    assert sql.startswith("BEGIN TRANSACTION;")
    assert 'ALTER TABLE "s"."t" ADD COLUMN "geom" geometry;' in sql
    assert "safe_geom_from_text" in sql
    assert "RETURN NULL;" in sql  # bad WKT swallowed as NULL
    assert 'WHERE "geom_wkt" IS NOT NULL AND "geom_wkt" != \'\';' in sql
    assert "DROP FUNCTION safe_geom_from_text(text, integer);" in sql
    assert 'DROP COLUMN "geom_wkt";' in sql
    assert sql.rstrip().endswith("COMMIT;")


def test_jdbc_uri_splits_credentials():
    """pgJDBC rejects userinfo in the URL — credentials must become
    connection properties (round-1 ADVICE)."""
    url, props = postgis_uri_to_jdbc("postgresql://u:p%40ss@h:5432/db")
    assert url == "jdbc:postgresql://h:5432/db"
    assert props == {"user": "u", "password": "p@ss"}
    # postgres:// scheme alias, no credentials, query params preserved
    url, props = postgis_uri_to_jdbc("postgres://h/db?sslmode=require")
    assert url == "jdbc:postgresql://h/db?sslmode=require"
    assert props == {}


def test_zipped_shapefile_polygon_roundtrip(spark, tmp_path):
    """Polygon (type 5) with a hole → WKB → WKT round-trip through the codec
    (round-1 gap: reader was Point-only; reference reads all types via GDAL
    st_read, core_processor.rs:399-406)."""
    from duckdb_postgis_spark.functions.wkb import to_wkt, wkb_decode
    from duckdb_postgis_spark.sources.readers import (
        read_zipped_shapefile,
        shp_poly_payload,
        write_sample_zip_shapefile_records,
    )

    outer = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)]  # CW
    hole = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)]  # CCW
    p = str(tmp_path / "poly.zip")
    write_sample_zip_shapefile_records(p, [shp_poly_payload(5, [outer, hole])])
    rows = read_zipped_shapefile(spark, p).collect()
    assert len(rows) == 1
    wkt = to_wkt(wkb_decode(rows[0]["geometry_wkb"]))
    assert wkt == (
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    )
    # centroid probe columns: (5*100 - 3*4) / 96 — the 2x2 hole at (3,3)
    # pulls the 10x10 square's centroid from 5 to 5.0833
    assert rows[0]["x"] == pytest.approx((5 * 100 - 3 * 4) / 96)
    assert rows[0]["y"] == pytest.approx((5 * 100 - 3 * 4) / 96)


def test_zipped_shapefile_polyline_and_multipoint(spark, tmp_path):
    from duckdb_postgis_spark.functions.wkb import to_wkt, wkb_decode
    from duckdb_postgis_spark.sources.readers import (
        read_zipped_shapefile,
        shp_multipoint_payload,
        shp_poly_payload,
        write_sample_zip_shapefile_records,
    )

    p = str(tmp_path / "mixed.zip")
    write_sample_zip_shapefile_records(
        p,
        [
            shp_poly_payload(3, [[(0.0, 0.0), (4.0, 0.0)], [(0.0, 1.0), (4.0, 1.0)]]),
            shp_poly_payload(3, [[(0.0, 0.0), (2.0, 2.0)]]),
            shp_multipoint_payload([(1.0, 1.0), (3.0, 5.0)]),
        ],
    )
    rows = read_zipped_shapefile(spark, p).orderBy("id").collect()
    wkts = [to_wkt(wkb_decode(r["geometry_wkb"])) for r in rows]
    assert wkts == [
        "MULTILINESTRING ((0 0, 4 0), (0 1, 4 1))",
        "LINESTRING (0 0, 2 2)",
        "MULTIPOINT (1 1, 3 5)",
    ]


def test_zipped_shapefile_multipolygon(spark, tmp_path):
    from duckdb_postgis_spark.functions.wkb import to_wkt, wkb_decode
    from duckdb_postgis_spark.sources.readers import (
        read_zipped_shapefile,
        shp_poly_payload,
        write_sample_zip_shapefile_records,
    )

    sq1 = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)]  # CW
    sq2 = [(5.0, 5.0), (5.0, 6.0), (6.0, 6.0), (6.0, 5.0), (5.0, 5.0)]  # CW
    p = str(tmp_path / "mp.zip")
    write_sample_zip_shapefile_records(p, [shp_poly_payload(5, [sq1, sq2])])
    rows = read_zipped_shapefile(spark, p).collect()
    wkt = to_wkt(wkb_decode(rows[0]["geometry_wkb"]))
    assert wkt == (
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))"
    )


def test_zipped_shapefile_multipatch_roundtrip(spark, tmp_path):
    """MultiPatch (type 31, round 7 — the reference reads these via GDAL
    st_read): triangle strip + triangle fan explode into one triangle
    polygon each, OuterRing+InnerRing group into a holed polygon, and the
    trailing Z block is skipped (force-2D, geo_strategy.rs:283-291)."""
    from duckdb_postgis_spark.functions.wkb import to_wkt, wkb_decode
    from duckdb_postgis_spark.sources.readers import (
        read_zipped_shapefile,
        shp_multipatch_payload,
        write_sample_zip_shapefile_records,
    )

    strip = [(0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]  # 2 triangles
    fan = [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0)]  # 2 tris
    outer = [(20.0, 20.0), (20.0, 24.0), (24.0, 24.0), (24.0, 20.0), (20.0, 20.0)]
    hole = [(21.0, 21.0), (22.0, 21.0), (22.0, 22.0), (21.0, 22.0), (21.0, 21.0)]
    p = str(tmp_path / "patch.zip")
    write_sample_zip_shapefile_records(
        p,
        [
            shp_multipatch_payload(
                [(0, strip), (1, fan), (2, outer), (3, hole)]
            )
        ],
    )
    rows = read_zipped_shapefile(spark, p).collect()
    assert len(rows) == 1
    wkt = to_wkt(wkb_decode(bytes(rows[0]["geometry_wkb"])))
    assert wkt == (
        "MULTIPOLYGON ("
        "((0 0, 1 0, 0 1, 0 0)), ((1 0, 0 1, 1 1, 1 0)), "
        "((10 10, 11 10, 11 11, 10 10)), ((10 10, 11 11, 10 11, 10 10)), "
        "((20 20, 20 24, 24 24, 24 20, 20 20), (21 21, 22 21, 22 22, 21 22, 21 21)))"
    )


def test_zipped_shapefile_multipatch_bare_rings(spark, tmp_path):
    """Bare Ring parts (type 5) fall back to the polygon winding heuristic:
    two clockwise squares → two separate polygons."""
    from duckdb_postgis_spark.functions.wkb import to_wkt, wkb_decode
    from duckdb_postgis_spark.sources.readers import (
        read_zipped_shapefile,
        shp_multipatch_payload,
        write_sample_zip_shapefile_records,
    )

    sq1 = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)]  # CW
    sq2 = [(5.0, 5.0), (5.0, 6.0), (6.0, 6.0), (6.0, 5.0), (5.0, 5.0)]  # CW
    p = str(tmp_path / "rings.zip")
    write_sample_zip_shapefile_records(
        p, [shp_multipatch_payload([(5, sq1), (5, sq2)])]
    )
    rows = read_zipped_shapefile(spark, p).collect()
    wkt = to_wkt(wkb_decode(bytes(rows[0]["geometry_wkb"])))
    assert wkt == (
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 6, 6 6, 6 5, 5 5)))"
    )


def _write_gpkg(path: str, srs: int, points: list[tuple[float, float] | None]) -> None:
    """A one-layer GeoPackage ``pts`` whose gpkg_spatial_ref_sys declares
    EPSG:``srs``; a None point is a NULL geometry."""
    import sqlite3
    import struct

    con = sqlite3.connect(path)
    con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT, srs_id INTEGER)")
    con.execute("INSERT INTO gpkg_contents VALUES ('pts', 'features', ?)", (srs,))
    con.execute(
        "CREATE TABLE gpkg_spatial_ref_sys (srs_id INTEGER, organization TEXT, organization_coordsys_id INTEGER)"
    )
    con.execute("INSERT INTO gpkg_spatial_ref_sys VALUES (?, 'EPSG', ?)", (srs, srs))
    con.execute("CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT)")
    con.execute("INSERT INTO gpkg_geometry_columns VALUES ('pts', 'geom')")
    con.execute("CREATE TABLE pts (fid INTEGER, geom BLOB)")
    for fid, pt in enumerate(points, start=1):
        blob = None
        if pt is not None:
            wkb = struct.pack("<BIdd", 1, 1, *pt)
            blob = b"GP\x00\x01" + srs.to_bytes(4, "little") + wkb
        con.execute("INSERT INTO pts VALUES (?, ?)", (fid, blob))
    con.commit()
    con.close()


def test_gpkg_srs_metadata_wins_over_range_inference(spark, tmp_path):
    """CRS from gpkg_contents.srs_id → gpkg_spatial_ref_sys (reference reads
    st_read_meta auth_code, geo_strategy.rs:55-70). The coords below LOOK
    like lon/lat (range inference would say 4326) but metadata says 27700 —
    metadata must win."""
    from duckdb_postgis_spark.pipeline import process_file

    p = str(tmp_path / "meta.gpkg")
    _write_gpkg(p, 27700, [(0.5, 51.5)])  # in-4326-range on purpose
    res = process_file(spark, p)
    assert res.source_crs == "27700"


def test_gpkg_unsupported_srs_gives_null_wkt(spark, tmp_path):
    """A source CRS that ``transform_xy`` rejects (EPSG:2154, Lambert-93)
    fails the whole Arrow batch's reprojection: the job completes, the
    metadata CRS is reported and every row keeps its place with a NULL
    WKT."""
    from duckdb_postgis_spark.pipeline import process_file

    p = str(tmp_path / "lambert.gpkg")
    _write_gpkg(p, 2154, [(652000.0, 6862000.0), None, (700000.0, 6600000.0)])
    res = process_file(spark, p)
    assert res.source_crs == "2154"
    rows = res.dataframe.collect()
    assert len(rows) == 3
    wkt_cols = [f"{g}_wkt" for g in res.geom_columns]
    assert wkt_cols and all(r[c] is None for r in rows for c in wkt_cols)


def test_geojson_all_geometry_types_to_wkt(spark, tmp_path):
    """Round-1 gap: only Point got geometry_wkt; the reference normalizes
    every geometry to 2D WKT (geo_strategy.rs:283-291)."""
    import json

    from duckdb_postgis_spark.sources.readers import read_geojson

    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "poly"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [0, 2], [2, 2], [2, 0], [0, 0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "line"},
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[0, 0], [1.5, 2.25]],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "pt"},
                "geometry": {"type": "Point", "coordinates": [121.123456, 31.2304]},
            },
        ],
    }
    p = tmp_path / "fc.geojson"
    p.write_text(json.dumps(fc))
    rows = {r["name"]: r["geometry_wkt"] for r in read_geojson(spark, str(p)).collect()}
    assert rows["pt"] == "POINT (121.123456 31.2304)"
    assert rows["line"] == "LINESTRING (0 0, 1.5 2.25)"
    assert rows["poly"] == "POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))"


def test_geojson_null_properties(spark, tmp_path):
    """GeoJSON allows ``"properties": null``; JSON inference then types
    the member as a string, which has no columns to flatten."""
    import json

    from duckdb_postgis_spark.sources.readers import read_geojson

    point = {"type": "Point", "coordinates": [1.5, 2.5]}
    fc = {
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "properties": None, "geometry": point}],
    }
    p = tmp_path / "null_props.geojson"
    p.write_text(json.dumps(fc))
    df = read_geojson(spark, str(p))
    assert df.columns == ["geometry_json", "geometry_wkt"]
    assert [r["geometry_wkt"] for r in df.collect()] == ["POINT (1.5 2.5)"]


def test_geojson_non_point_wkt_survives_process_file(spark, tmp_path):
    """process_file's WKT column equals the reader's geometry_wkt for every
    geometry type of a lon/lat GeoJSON (EPSG:4326 in and out), not only
    for points."""
    import json

    from duckdb_postgis_spark.sources.readers import read_geojson

    ring = [[-0.2, 51.4], [-0.1, 51.4], [-0.1, 51.5], [-0.2, 51.4]]
    geoms = [
        {"type": "Point", "coordinates": [-0.1275, 51.50722]},
        {"type": "LineString", "coordinates": [[-0.2, 51.4], [-0.1, 51.45]]},
        {"type": "Polygon", "coordinates": [ring]},
        {"type": "MultiPoint", "coordinates": [[-0.2, 51.4], [-0.15, 51.45]]},
        {"type": "MultiLineString", "coordinates": [ring[:2], ring[1:3]]},
        {"type": "MultiPolygon", "coordinates": [[ring], [ring]]},
        {
            "type": "GeometryCollection",
            "geometries": [
                {"type": "Point", "coordinates": [-0.12, 51.5]},
                {"type": "LineString", "coordinates": ring[:3]},
            ],
        },
    ]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"id": i}, "geometry": g}
            for i, g in enumerate(geoms)
        ],
    }
    p = tmp_path / "mixed.geojson"
    p.write_text(json.dumps(fc))
    want = {r["id"]: r["geometry_wkt"] for r in read_geojson(spark, str(p)).collect()}
    res = process_file(spark, str(p))
    assert res.source_crs == "4326"
    got = {r["id"]: r["geometry_wkt_wkt"] for r in res.dataframe.collect()}
    assert None not in want.values()
    assert got == want


def test_geojson_empty_multipoint_prints_empty(spark, tmp_path):
    """A feature whose MultiPoint has no coordinates keeps PostGIS's
    ``ST_AsText`` spelling, ``MULTIPOINT EMPTY``, through process_file
    (not NULL); the other feature converts as before."""
    import json

    geoms = [
        {"type": "MultiPoint", "coordinates": []},
        {"type": "Point", "coordinates": [-0.1275, 51.50722]},
    ]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"id": i}, "geometry": g}
            for i, g in enumerate(geoms)
        ],
    }
    p = tmp_path / "empty.geojson"
    p.write_text(json.dumps(fc))
    res = process_file(spark, str(p))
    assert res.source_crs == "4326"
    got = {r["id"]: r["geometry_wkt_wkt"] for r in res.dataframe.collect()}
    assert got == {0: "MULTIPOINT EMPTY", 1: "POINT (-0.1275 51.50722)"}

def _bng_squares(n: int = 20) -> list[list[tuple[float, float]]]:
    """n 100 m squares near (530000, 180000) in EPSG:27700 (central
    London), each a closed ring."""
    out = []
    for i in range(n):
        x0, y0 = 530000.0 + 250.0 * i, 180000.0 + 125.0 * i
        out.append(
            [(x0, y0), (x0 + 100, y0), (x0 + 100, y0 + 100), (x0, y0 + 100), (x0, y0)]
        )
    return out


def _write_bng_polygons_geojson(stem: str) -> tuple[str, str]:
    """Write the squares as a GeoJSON; return (file, output WKT column)."""
    import json

    feats = [
        {
            "type": "Feature",
            "properties": {"id": i},
            "geometry": {"type": "Polygon", "coordinates": [[list(p) for p in ring]]},
        }
        for i, ring in enumerate(_bng_squares())
    ]
    with open(f"{stem}.geojson", "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return f"{stem}.geojson", "geometry_wkt_wkt"


def _write_bng_polygons_parquet(stem: str) -> tuple[str, str]:
    """Write the squares as a parquet WKT ``geometry`` column; return
    (file, output WKT column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_postgis_spark.functions.wkb import to_wkt

    wkts = [to_wkt(("Polygon", [ring])) for ring in _bng_squares()]
    pq.write_table(
        pa.table({"id": list(range(len(wkts))), "geometry": wkts}), f"{stem}.parquet"
    )
    return f"{stem}.parquet", "geometry_wkt"


@pytest.mark.parametrize(
    "write",
    [_write_bng_polygons_geojson, _write_bng_polygons_parquet],
    ids=["geojson", "parquet_wkt"],
)
def test_non_point_wkt_probe_infers_bng(spark, tmp_path, write):
    """The CRS probe parses WKT of every type, not only POINT: a file whose
    probe sample holds only EPSG:27700 polygons is classified 27700 and
    reprojected, not left in metres under a 4326 label."""
    from duckdb_postgis_spark.functions.geo import transform_xy
    from duckdb_postgis_spark.functions.wkb import centroid, parse_geometry

    path, out_col = write(str(tmp_path / "bng_polygons"))
    res = process_file(spark, path)
    assert res.source_crs == "27700"
    rows = {r["id"]: r[out_col] for r in res.dataframe.collect()}
    assert len(rows) == 20 and None not in rows.values()
    lon, lat = centroid(parse_geometry(rows[0]))
    want = transform_xy(530050.0, 180050.0, "27700")
    assert abs(lon - want[0]) < 1e-6 and abs(lat - want[1]) < 1e-6


_LONLAT_PTS = [(-0.1275, 51.5072), (2.3522, 48.8566), (13.405, 52.52),
               (-3.7038, 40.4168), (12.4964, 41.9028)]
_BNG_PTS = [(530000.5, 180000.5), (460150.5, 452150.5), (538890.5, 177320.5),
            (651409.5, 313177.5), (400000.5, 800000.5)]


@pytest.mark.parametrize(
    "crs, finite", [("4326", _LONLAT_PTS), ("27700", _BNG_PTS)], ids=["lonlat", "bng"]
)
def test_wkb_empty_point_becomes_null(spark, tmp_path, crs, finite):
    """A WKB POINT EMPTY (NaN NaN, the standard encoding) in a geometry
    column gives a NULL WKT for that row, reprojected or not; the job
    completes and every other row converts as before."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_postgis_spark.functions.geo import transform_xy, wkb_point_encode

    pts = finite[:2] + [(math.nan, math.nan)] + finite[2:]
    path = str(tmp_path / "pts.parquet")
    pq.write_table(
        pa.table({
            "id": list(range(len(pts))),
            "geom": pa.array([wkb_point_encode(x, y) for x, y in pts], pa.binary()),
        }),
        path,
    )
    res = process_file(spark, path)
    assert res.geom_columns == ["geom"]
    assert res.source_crs == crs
    got = {r["id"]: r["geom_wkt"] for r in res.dataframe.collect()}
    want = {
        i: None if i == 2 else "POINT ({} {})".format(*transform_xy(x, y, crs))
        for i, (x, y) in enumerate(pts)
    }
    assert got == want


def test_traced_layers_are_pipeline_functions():
    """``perfbench/tracing.py`` wraps each of these names with ``getattr``
    on the pipeline module: a renamed function would fail every traced
    benchmark run."""
    from perfbench.tracing import PIPELINE_LAYERS

    from duckdb_postgis_spark import pipeline

    for name in PIPELINE_LAYERS:
        assert callable(vars(pipeline).get(name)), name
