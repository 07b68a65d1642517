"""Seeded inputs for the benchmark: the ten catalog tables and a geo corpus.

Everything here is a pure function of ``seed`` (NumPy ``default_rng``), so
the same seed writes byte-identical inputs.  Nothing in this module starts
Spark; the benchmark calls it before the timed set-up begins.

The tables follow the schema and value ranges of the synthetic tables
that ``FIXTURES.md`` describes, at the sf0.01 shape: 60k lineitem, 15k orders,
10k events, plus 1k documents and 1k embeddings.  Each table is one parquet
file with a single row group, the layout ``catalog.ensure_scan_layout``
exists to rewrite.

The geo corpus covers every format ``pipeline.process_file`` reads, and
records the expected verdict of each file (type, geometry columns, CRS, row
count) plus a few sampled ids with their expected EPSG:4326 coordinates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sqlite3
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the sf0.01 shape of the testdata in ``FIXTURES.md``)
TABLE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 1_000,
}
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), f"{out_dir}/{name}.parquet", row_group_size=1 << 30
    )


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = TABLE_ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    _write(out_dir, "region", {
        "r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": i64(range(c)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c)),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": i64(range(s)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    _write(out_dir, "part", {
        "p_partkey": i64(range(p)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": pa.array(rng.choice(_PTYPES, p)),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": i64(range(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, o),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o)),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li)),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, li),
    })
    e = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": i64(range(e)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(1, e * 3 // 200), e)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, e)),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(8, 101, d)
    ]
    # about 5% are near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": i64(range(d)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, d, p=_LANG_P)),
        "source": pa.array([f"src{k % 20}" for k in range(d)]),
        "n_chars": i64([len(t) for t in texts]),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": i64(range(m)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, m)),
    })
    return {"region": 5, "nation": 25, **n}


# --------------------------------------------------------------------------
# geo corpus
# --------------------------------------------------------------------------
#: bulk files: kind -> rows
GEO_BULK_ROWS = {
    "bng_csv": 10_000,
    "lonlat_csv": 10_000,
    "wkb_parquet": 3_000,
    "geojson": 1_500,
    "shapefile": 1_500,
    "gpkg": 1_500,
    "plain_csv": 10_000,
}
GEO_SMALL_FILES = 12
GEO_SMALL_ROWS = 400
_SAMPLES = 5  # sampled ids per geo file whose output coordinates are checked
_BNG_PRJ = (
    'PROJCS["OSGB_1936_British_National_Grid",GEOGCS["GCS_OSGB_1936",'
    'DATUM["D_OSGB_1936",SPHEROID["Airy_1849",6377563.396,299.3249646]]]]'
)


def _wkb_polygon(ring: list[tuple[float, float]]) -> bytes:
    return (
        struct.pack("<BII", 1, 3, 1)
        + struct.pack("<I", len(ring))
        + b"".join(struct.pack("<dd", x, y) for x, y in ring)
    )


def _truth(kind, path, file_type, geom, crs, rows, samples) -> dict:
    return {
        "kind": kind,
        "path": path,
        "file_type": file_type,
        "geom_columns": geom,
        "crs": crs,
        "rows": rows,
        "in_bytes": os.path.getsize(path),
        # id -> expected (lon, lat) of the output WKT's first coordinate
        "samples": {str(k): v for k, v in samples.items()},
    }


def _pick(rng: np.random.Generator, n: int, step: int = 1) -> list[int]:
    """Sampled ids among ``0, step, 2*step, ...`` below ``n``."""
    ids = rng.choice(np.arange(0, n, step), min(_SAMPLES, -(-n // step)), replace=False)
    return sorted(int(i) for i in ids)


def _lonlat(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Points inside a 6°x6° box over Britain: under the 10° extent that
    the CRS classifier reads as EPSG:4326."""
    return np.round(rng.uniform(-3.0, 3.0, n), 6), np.round(rng.uniform(50.0, 56.0, n), 6)


def _write_csv(path: str, header: str, rows) -> None:
    with open(path, "w") as fh:
        fh.write(header + "\n")
        fh.writelines(",".join(map(str, r)) + "\n" for r in rows)


def write_geo_corpus(out_dir: str, seed: int) -> list[dict]:
    """Write the geo corpus under ``out_dir``; returns one truth record per
    file (bulk files first, then the small lon/lat CSVs)."""
    from duckdb_postgis_spark.functions.geo import (
        transform_xy,
        wgs84_to_webmercator,
        wkb_point_encode,
    )
    from duckdb_postgis_spark.sources.readers import write_sample_zip_shapefile

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    truth: list[dict] = []
    rows = GEO_BULK_ROWS

    # EPSG:27700 easting/northing CSV
    k = rows["bng_csv"]
    e, nn = np.round(rng.uniform(150_000, 650_000, k), 2), np.round(rng.uniform(50_000, 1_100_000, k), 2)
    path = f"{out_dir}/bng_sites.csv"
    _write_csv(path, "id,easting,northing", zip(range(k), e, nn))
    truth.append(_truth(
        "bng_csv", path, "CSV", ["geom_from_easting_northing"], "27700", k,
        {i: transform_xy(float(e[i]), float(nn[i]), "27700") for i in _pick(rng, k)},
    ))

    # EPSG:4326 lon/lat CSV with a text column
    k = rows["lonlat_csv"]
    lon, lat = _lonlat(rng, k)
    path = f"{out_dir}/lonlat_places.csv"
    _write_csv(path, "id,name,longitude,latitude",
               ((i, f"place{i}", lon[i], lat[i]) for i in range(k)))
    truth.append(_truth(
        "lonlat_csv", path, "CSV", ["geom_from_longitude_latitude"], "4326", k,
        {i: (float(lon[i]), float(lat[i])) for i in _pick(rng, k)},
    ))

    # EPSG:3857 WKB polygons in parquet
    k = rows["wkb_parquet"]
    lon, lat = _lonlat(rng, k)
    blobs, first = [], []
    for x0, y0 in zip(lon, lat):
        ring = [(x0, y0), (x0 + 0.01, y0), (x0 + 0.01, y0 + 0.01), (x0, y0 + 0.01), (x0, y0)]
        merc = [wgs84_to_webmercator(float(x), float(y)) for x, y in ring]
        blobs.append(_wkb_polygon(merc))
        first.append(merc[0])
    path = f"{out_dir}/parcels_3857.parquet"
    pq.write_table(pa.table({
        "id": pa.array(range(k), pa.int64()),
        "geom": pa.array(blobs, pa.binary()),
    }), path)
    truth.append(_truth(
        "wkb_parquet", path, "Parquet", ["geom"], "3857", k,
        {i: transform_xy(*first[i], "3857") for i in _pick(rng, k)},
    ))

    # mixed-geometry GeoJSON (points, lines, polygons) in EPSG:4326.  Only
    # points are sampled: process_file's WKT path parses POINT text only and
    # writes NULL for the other shapes (transform_geom_columns)
    k = rows["geojson"]
    lon, lat = _lonlat(rng, k)
    feats = []
    for i in range(k):
        x, y = float(lon[i]), float(lat[i])
        shape = i % 3
        if shape == 0:
            g = {"type": "Point", "coordinates": [x, y]}
        elif shape == 1:
            g = {"type": "LineString", "coordinates": [[x, y], [x + 0.02, y + 0.01]]}
        else:
            g = {"type": "Polygon", "coordinates": [
                [[x, y], [x + 0.01, y], [x + 0.01, y + 0.01], [x, y]]]}
        feats.append({"type": "Feature", "geometry": g,
                      "properties": {"id": i, "shape": g["type"]}})
    path = f"{out_dir}/features.geojson"
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    truth.append(_truth(
        "geojson", path, "GeoJSON", ["geometry_wkt"], "4326", k,
        {i: (float(lon[i]), float(lat[i])) for i in _pick(rng, k, step=3)},
    ))

    # zipped point shapefile in EPSG:27700, CRS from the .prj
    k = rows["shapefile"]
    e, nn = np.round(rng.uniform(150_000, 650_000, k), 2), np.round(rng.uniform(50_000, 1_100_000, k), 2)
    path = f"{out_dir}/sites_shp.zip"
    write_sample_zip_shapefile(path, list(zip(e.tolist(), nn.tolist())), prj=_BNG_PRJ)
    truth.append(_truth(
        "shapefile", path, "Shapefile", ["geometry_wkb"], "27700", k,
        {i: transform_xy(float(e[i]), float(nn[i]), "27700") for i in _pick(rng, k)},
    ))

    # GeoPackage (sqlite3) with EPSG:4326 points, CRS from gpkg_spatial_ref_sys
    k = rows["gpkg"]
    lon, lat = _lonlat(rng, k)
    path = f"{out_dir}/poi.gpkg"
    con = sqlite3.connect(path)
    con.executescript(
        "CREATE TABLE gpkg_spatial_ref_sys (srs_id INTEGER, organization TEXT,"
        " organization_coordsys_id INTEGER);"
        "INSERT INTO gpkg_spatial_ref_sys VALUES (4326, 'EPSG', 4326);"
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT, srs_id INTEGER);"
        "INSERT INTO gpkg_contents VALUES ('poi', 'features', 4326);"
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT);"
        "INSERT INTO gpkg_geometry_columns VALUES ('poi', 'geom');"
        "CREATE TABLE poi (fid INTEGER, name TEXT, geom BLOB);"
    )
    header = b"GP\x00\x01" + (4326).to_bytes(4, "little")
    con.executemany(
        "INSERT INTO poi VALUES (?, ?, ?)",
        ((i, f"poi{i}", header + wkb_point_encode(float(lon[i]), float(lat[i]))) for i in range(k)),
    )
    con.commit()
    con.close()
    truth.append(_truth(
        "gpkg", path, "Geopackage", ["geom"], "4326", k,
        {i: (float(lon[i]), float(lat[i])) for i in _pick(rng, k)},
    ))

    # non-geo CSV
    k = rows["plain_csv"]
    amount = _money(rng, 0.0, 1000.0, k)
    path = f"{out_dir}/ledger.csv"
    _write_csv(path, "id,name,amount", ((i, f"item{i}", amount[i]) for i in range(k)))
    truth.append(_truth("plain_csv", path, "CSV", [], "4326", k, {}))

    # many small lon/lat CSVs: homogeneous per-file latency samples
    for f in range(GEO_SMALL_FILES):
        k = GEO_SMALL_ROWS
        lon, lat = _lonlat(rng, k)
        path = f"{out_dir}/small_{f:02d}.csv"
        _write_csv(path, "id,longitude,latitude", zip(range(k), lon, lat))
        truth.append(_truth(
            "small_csv", path, "CSV", ["geom_from_longitude_latitude"], "4326", k,
            {i: (float(lon[i]), float(lat[i])) for i in _pick(rng, k)},
        ))
    return truth
