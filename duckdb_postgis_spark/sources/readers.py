"""Format readers: file → Spark DataFrame (reference ``create_duckb_table``,
core_processor.rs:391-428, re-expressed per format).

Distributed formats (Parquet, CSV, GeoJSON) read through Spark's native
sources — pushdown/pruning/splitting apply, so they scale to cluster-sized
inputs.  Where Spark would launch a job only to infer the schema, the
driver runs that job's code instead and declares the result: a parquet
footer (``catalog.read_parquet``), and a CSV file no larger than one file
split of the session, ``min(spark.sql.files.openCostInBytes,
spark.sql.files.maxPartitionBytes)``, whose CRS probes then read the same
driver-side lines (``read_csv``, ``csv_probe``); a larger CSV keeps
Spark's inference jobs.

Driver-side formats (GeoPackage via stdlib sqlite3, zipped Shapefiles via
a minimal pure-python codec, Excel via stdlib zip/XML or a BIFF8 walk) are
parsed on the driver into an Arrow-backed local relation — matching the
reference's own profile, where these arrive as single small files; for
100 TB geo data, pre-convert to (geo)parquet.
"""

from __future__ import annotations

import functools
import io
import sqlite3
import struct
import tempfile
import weakref
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path
from types import SimpleNamespace

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.serializers import CPickleSerializer
from pyspark.sql.types import DataType, StructField, StructType, _parse_datatype_json_string

from duckdb_postgis_spark.catalog import read_parquet
from duckdb_postgis_spark.functions.wkb import Geom
from duckdb_postgis_spark.session import keep, release
from duckdb_postgis_spark.sources.sniffer import (
    FileType,
    determine_file_type,
    find_shapefile_path,
)


def read_file(
    spark: SparkSession, path: str, file_type: FileType | None = None
) -> DataFrame:
    """Dispatch mirroring core_processor.rs:391-428."""
    ft = file_type or determine_file_type(path)
    if ft is FileType.PARQUET:
        return read_parquet(spark, path)
    if ft is FileType.CSV:
        return read_csv(spark, path)
    if ft is FileType.GEOJSON:
        return read_geojson(spark, path)
    if ft is FileType.GEOPACKAGE:
        return read_geopackage(spark, path)
    if ft is FileType.SHAPEFILE:
        return read_zipped_shapefile(spark, path)
    if ft is FileType.EXCEL:
        return read_excel(spark, path)
    if ft is FileType.JSONL:
        return read_jsonl(spark, path)
    raise ValueError(f"unsupported file type {ft}")


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited JSON (extension surface beyond the reference — the
    dominant training-corpus interchange format). Spark's native json
    source: distributed, splittable on uncompressed input, transparent
    codec handling for .jsonl.gz; schema inferred from a sampled pass the
    same way the CSV reader infers (pass a schema explicitly in production
    to skip the inference job). Corrupt lines land in _corrupt_record
    under PERMISSIVE rather than failing the 100 TB job."""
    return spark.read.option("mode", "PERMISSIVE").json(path)


#: ``read_csv``'s reader options; the driver-side parse builds its
#: ``CSVOptions`` from the same map.  None of them sets ``multiLine``,
#: ``lineSep``, ``encoding``, ``comment`` or ``samplingRatio``: Spark then
#: reads a file as UTF-8 lines split at CR, LF or CRLF and infers from
#: every line, which is what ``_SmallCsv`` reproduces.
_CSV_OPTIONS = {"header": "true", "inferSchema": "true", "mode": "DROPMALFORMED"}

#: Hadoop's glob metacharacters (``SparkHadoopUtil.isGlobPath``)
_GLOB_CHARS = frozenset("{}[]*?\\")

#: every small-file ``read_csv`` frame → its ``_SmallCsv``
_SMALL_CSV: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV with header sniff + bad-row skip: Spark's DROPMALFORMED ≈ DuckDB
    ``read_csv(ignore_errors=true, header=true)`` (core_processor.rs:413-418).

    Spark infers a CSV schema with two jobs: one takes the first line,
    one folds every line's tokens into column types.  A file no larger
    than one file split of the session, ``min(spark.sql.files.
    openCostInBytes, spark.sql.files.maxPartitionBytes)`` (4 MB by
    default), is one task in each, so that task's code runs on the driver
    instead (``_SmallCsv``) and the result is declared to the reader: the
    schema, plan and rows are the inferred read's, and the frame's CRS
    probes read the same lines (``csv_probe``).  Larger files, globs,
    directories and compressed files keep Spark's distributed inference."""
    reader = spark.read.options(**_CSV_OPTIONS)
    small = _SmallCsv.open(spark, path)
    if small is None:
        return reader.csv(path)
    df = reader.schema(small.schema).csv(path)
    _SMALL_CSV[df] = small
    return df


def csv_probe(
    df: DataFrame, columns: list[str], n: int, cast: DataType | None = None
) -> list[Row] | None:
    """For a small-file ``read_csv`` frame, the rows of
    ``df.filter(<every column non-null>).select(*columns).limit(n)``,
    each column try-cast to ``cast`` when one is given (``try_cast``: NULL
    for a value that does not parse), computed from the reader's
    driver-side parse without a Spark job.  None for
    any other frame, and for a cast that Spark's analysis rejects (the
    frame's own query raises it)."""
    small = _SMALL_CSV.get(df)
    return None if small is None else small.probe(columns, n, cast)


class _SmallCsv:
    """One single-split CSV file, parsed on the driver with the code
    Spark's one task would run.

    ``open`` reads the lines as the text source does (Hadoop's UTF-8 BOM
    skip at the start of the file, CR/LF/CRLF line ends, the options'
    charset).  ``schema`` is ``TextInputCSVDataSource.infer``'s: the first
    line left by Spark SQL's ``trim`` (spaces only) is the header
    (``CSVUtils.makeSafeHeader``), the other lines go through
    ``CSVUtils.filterCommentAndEmpty`` and ``filterHeaderLine`` and the
    univocity tokenizer of ``CSVOptions.asParserSettings``, and
    ``CSVInferSchema.inferRowType`` folds them inside the JVM in one py4j
    call, then ``mergeRowTypes`` and ``toStructFields``.  ``probe`` runs
    the column-pruned parse of ``CSVFileFormat.buildReader``
    (``UnivocityParser.parseIterator``), Spark's ``Cast`` in TRY mode and the
    conversion ``collect`` pickles rows with."""

    def __init__(self, spark: SparkSession, path: str, options, lines) -> None:
        self.spark, self.path, self.options, self.lines = spark, path, options, lines
        self.jschema = self._infer()
        self.schema = _parse_datatype_json_string(self.jschema.json())

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> _SmallCsv | None:
        """The file's lines when ``path`` names one uncompressed file
        within the split size; None otherwise (a missing path included,
        so its error stays Spark's)."""
        if _GLOB_CHARS & set(path):
            return None
        j = _jvm(spark.sparkContext._gateway)
        state = spark._jsparkSession.sessionState()
        conf, hconf = state.conf(), state.newHadoopConf()
        p = j.Path(path)
        fs = p.getFileSystem(hconf)
        try:
            status = fs.getFileStatus(p)
        except Py4JJavaError:
            return None
        split = min(conf.filesOpenCostInBytes(), conf.filesMaxPartitionBytes())
        if not status.isFile() or status.getLen() > split:
            return None
        if j.CompressionCodecFactory(hconf).getCodec(p) is not None:
            return None
        # the options as CSVFileFormat.getCsvOptions builds them
        options = j.CSVOptions(
            j.PythonUtils.toScalaMap(_CSV_OPTIONS),
            conf.csvColumnPruning(),
            conf.sessionLocalTimeZone(),
            conf.columnNameOfCorruptRecord(),
        )
        reader = j.BufferedReader(
            j.InputStreamReader(j.BOMInputStream(fs.open(p)), options.charset())
        )
        try:
            lines = reader.lines().toList()
        finally:
            reader.close()
        return cls(spark, path, options, lines)

    def _infer(self):
        j = _jvm(self.spark.sparkContext._gateway)
        conf = self.spark._jsparkSession.sessionState().conf()
        with _active(self.spark):
            parser = j.CsvParser(self.options.asParserSettings())
            first = self._first_line()
            first_row = None if first is None else parser.parseLine(first)
            if first_row is None:
                return j.StructType()
            header = j.CSVUtils.makeSafeHeader(
                first_row, conf.caseSensitiveAnalysis(), self.options
            )
            body = j.CSVUtils.filterHeaderLine(
                j.CSVUtils.filterCommentAndEmpty(j.scala(self.lines.iterator()), self.options),
                first,
                self.options,
            )
            infer = j.CSVInferSchema(self.options)
            # RDD.aggregate: each partition folds from its own zero, and
            # the driver merges the results into another
            zero = j.nulls(len(header))
            folded = (
                j.stream(body)
                .map(j.adapt(j.Function, j.parse_line.bindTo(parser)))
                .reduce(
                    j.nulls(len(header)),
                    j.adapt(j.BiFunction, j.infer_row.bindTo(infer)),
                    j.adapt(j.BinaryOperator, j.merge_rows.bindTo(infer)),
                )
            )
            types = infer.mergeRowTypes(zero, folded)
            return j.StructType(infer.toStructFields(types, header))

    def _first_line(self) -> str | None:
        """``CSVUtils.filterCommentAndEmpty(Dataset)``'s first line: the
        first line that Spark SQL's ``trim`` (spaces only, unlike the
        iterator filter's ``String.trim``) leaves non-empty and that is
        not a comment."""
        comment = self.options.comment() if self.options.isCommentSet() else None
        for i in range(self.lines.size()):
            line = self.lines.get(i)
            if line.strip(" ") and not (comment and line.startswith(comment)):
                return line
        return None

    def probe(self, columns: list[str], n: int, cast: DataType | None) -> list[Row] | None:
        j = _jvm(self.spark.sparkContext._gateway)
        jspark = self.spark._jsparkSession
        conf = jspark.sessionState().conf()
        required = StructType([f for f in self.schema.fields if f.name in set(columns)])
        out = StructType(
            [StructField(c, cast or required[c].dataType) for c in columns]
        )
        jrequired = jspark.parseDataType(required.json())
        jout = jspark.parseDataType(out.json())
        with _active(self.spark):
            parser = j.UnivocityParser(self.jschema, jrequired, self.options)
            pruned = self.options.isColumnPruningEnabled(jrequired)
            checker = j.CSVHeaderChecker(
                jrequired if pruned else self.jschema,
                self.options,
                f"CSV file: {self.path}",
                True,
            )
            rows = j.UnivocityParser.parseIterator(
                j.scala(self.lines.iterator()), parser, checker, jrequired
            )
            exprs = j.ArrayList()
            for k, c in enumerate(columns):
                i = required.names.index(c)
                e = j.BoundReference(i, jrequired.apply(i).dataType(), True)
                if cast is not None:
                    tz = j.Some(conf.sessionLocalTimeZone())
                    e = j.Cast(e, jout.apply(k).dataType(), tz, j.EvalMode.TRY())
                    if e.checkInputDataTypes().isFailure():
                        return None  # the frame's analysis raises the error
                exprs.add(e)
            project = j.InterpretedUnsafeProjection.createProjection(
                j.scala(exprs).toSeq()
            )
            # Dataset.collectToPython's row conversion
            to_python = j.invoke.MethodHandles.insertArguments(
                j.to_java, 1, j.args(jout, conf.pysparkBinaryAsBytes())
            )
            picked = (
                j.stream(rows)
                .filter(j.no_nulls)
                .map(j.adapt(j.Function, j.apply1.bindTo(project)))
                .map(j.adapt(j.Function, to_python))
                .limit(n)
                .toList()
            )
            return CPickleSerializer().loads(j.Pickler(True, False).dumps(picked))


@contextmanager
def _active(spark: SparkSession) -> Iterator[None]:
    """Make ``spark`` the JVM thread's active session for the body: the
    CSV parsers, ``CSVInferSchema`` and ``Cast`` read ``SQLConf.get``,
    which is the session's conf inside Spark's own jobs."""
    sessions = _jvm(spark.sparkContext._gateway).SparkSession
    prev = sessions.getActiveSession()
    sessions.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            sessions.setActiveSession(prev.get())
        else:
            sessions.clearActiveSession()


@functools.lru_cache(maxsize=1)
def _jvm(gateway) -> SimpleNamespace:
    """The JVM classes and method handles of ``_SmallCsv``, looked up once
    per gateway (a py4j class lookup costs several round trips).

    Spark's functions become ``java.util.function`` instances through
    ``MethodHandleProxies``, so a ``Stream`` map/reduce runs the whole
    per-line loop inside the JVM: a py4j call per line would cost more
    than the jobs it replaces."""
    jvm = gateway.jvm
    invoke = jvm.java.lang.invoke
    lookup = invoke.MethodHandles.publicLookup()
    cls = jvm.java.lang.Class.forName
    obj, string = cls("java.lang.Object"), cls("java.lang.String")
    strings = cls("[Ljava.lang.String;")
    dtype = cls("org.apache.spark.sql.types.DataType")
    dtypes = cls("[Lorg.apache.spark.sql.types.DataType;")
    infer_schema = cls("org.apache.spark.sql.catalyst.csv.CSVInferSchema")
    converters = jvm.scala.jdk.javaapi.CollectionConverters
    spliterators = jvm.java.util.Spliterators
    streams = jvm.java.util.stream.StreamSupport
    null_type = jvm.org.apache.spark.sql.types.DataTypes.NullType

    object_class, dtype_class = jvm.java.lang.Object, jvm.org.apache.spark.sql.types.DataType

    def args(*values):
        arr = gateway.new_array(object_class, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def signature(rtype, *ptypes):
        params = gateway.new_array(jvm.java.lang.Class, len(ptypes))
        for i, t in enumerate(ptypes):
            params[i] = t
        return invoke.MethodType.methodType(rtype, params)

    def method(owner, name, rtype, *ptypes):
        return lookup.findVirtual(owner, name, signature(rtype, *ptypes))

    def adapt(iface, handle):
        return invoke.MethodHandleProxies.asInterfaceInstance(iface, handle)

    # py4j passes no DataType[] as an Object[] argument, so Arrays.fill
    # runs through a handle, which takes its arguments as a list
    fill = lookup.findStatic(
        cls("java.util.Arrays"),
        "fill",
        signature(jvm.java.lang.Void.TYPE, cls("[Ljava.lang.Object;"), obj),
    )

    def nulls(n):
        arr = gateway.new_array(dtype_class, n)
        fill.invokeWithArguments([arr, null_type])
        return arr

    def stream(scala_iterator):
        it = spliterators.spliteratorUnknownSize(converters.asJava(scala_iterator), 0)
        return streams.stream(it, False)

    boolean = jvm.java.lang.Boolean.TYPE
    any_null = method(cls("org.apache.spark.sql.catalyst.InternalRow"), "anyNull", boolean)
    evaluate_python = jvm.org.apache.spark.sql.execution.python.EvaluatePython
    evaluate_python.registerPicklers()
    csv = jvm.org.apache.spark.sql.catalyst.csv
    expressions = jvm.org.apache.spark.sql.catalyst.expressions
    return SimpleNamespace(
        invoke=invoke,
        Function=cls("java.util.function.Function"),
        BiFunction=cls("java.util.function.BiFunction"),
        BinaryOperator=cls("java.util.function.BinaryOperator"),
        parse_line=method(cls("com.univocity.parsers.csv.CsvParser"), "parseLine", strings, string),
        infer_row=method(infer_schema, "inferRowType", dtypes, dtypes, strings),
        merge_rows=method(infer_schema, "mergeRowTypes", dtypes, dtypes, dtypes),
        apply1=method(cls("scala.Function1"), "apply", obj, obj),
        to_java=lookup.findStatic(
            cls("org.apache.spark.sql.execution.python.EvaluatePython"),
            "toJava",
            signature(obj, obj, dtype, boolean),
        ),
        no_nulls=adapt(cls("java.util.function.Predicate"), any_null).negate(),
        args=args,
        adapt=adapt,
        nulls=nulls,
        stream=stream,
        scala=converters.asScala,
        ArrayList=jvm.java.util.ArrayList,
        BOMInputStream=jvm.org.apache.commons.io.input.BOMInputStream,
        BoundReference=expressions.BoundReference,
        BufferedReader=jvm.java.io.BufferedReader,
        Cast=expressions.Cast,
        CompressionCodecFactory=jvm.org.apache.hadoop.io.compress.CompressionCodecFactory,
        CSVHeaderChecker=csv.CSVHeaderChecker,
        CSVInferSchema=csv.CSVInferSchema,
        CSVOptions=csv.CSVOptions,
        CSVUtils=jvm.org.apache.spark.sql.execution.datasources.csv.CSVUtils,
        CsvParser=jvm.com.univocity.parsers.csv.CsvParser,
        EvalMode=expressions.EvalMode,
        InputStreamReader=jvm.java.io.InputStreamReader,
        InterpretedUnsafeProjection=expressions.InterpretedUnsafeProjection,
        Path=jvm.org.apache.hadoop.fs.Path,
        Pickler=jvm.net.razorvine.pickle.Pickler,
        PythonUtils=jvm.org.apache.spark.api.python.PythonUtils,
        SparkSession=jvm.org.apache.spark.sql.SparkSession,
        Some=jvm.scala.Some,
        StructType=jvm.org.apache.spark.sql.types.StructType,
        UnivocityParser=csv.UnivocityParser,
    )


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON FeatureCollection → one row per feature: properties flattened
    to columns + ``geometry_json`` (full geometry as JSON text) +
    ``geometry_wkt`` normalized for EVERY geometry type via the pure-python
    codec (the reference reads via GDAL st_read, core_processor.rs:393-398,
    and normalizes all geometries to 2D WKT, geo_strategy.rs:283-291).
    Distributed end to end; the JSON→WKT step is an Arrow-batched pandas
    UDF (geometry nesting depth varies by type, beyond builtin exprs).

    The returned frame is PERSISTED behind a ledger (r13 OPTIMIZATION
    round, guide §5 caching-when-reused): a multiLine JSON source is one
    unsplittable parse task, and process_file's lifecycle (geometry
    detection probe, CRS probe, final consumer) re-ran that parse + the
    WKT UDF 4-5× per invocation — measured 8.7 s → 2.6 s at the sf0.1
    GeoJSON-e2e shape from caching it once per call.  The
    ``session.keep`` ledger unpersists it on the NEXT read_geojson call,
    so no computation survives across invocations (bench reps each pay
    the full parse)."""
    release("geojson")
    raw = spark.read.option("multiLine", True).json(path)
    if "features" not in raw.columns:
        return raw  # bare Feature / geometry object
    # re-read with geometry as raw JSON text: inference would otherwise
    # unify coordinates across Point/LineString/Polygon (different nesting
    # depths) and corrupt the non-majority shapes
    raw = spark.read.option("multiLine", True).schema(
        _geometry_as_string(raw.schema)
    ).json(path)
    feats = raw.select(F.explode("features").alias("f"))
    cols = []
    props = _struct_field(feats.schema["f"].dataType, "properties")
    if props is not None and isinstance(props.dataType, StructType):
        cols = [F.col(f"f.properties.{c}").alias(c) for c in props.dataType.names]
    geom_json = F.col("f.geometry").alias("geometry_json")
    out = feats.select(*cols, geom_json)
    # pandas_udf registration needs a live session → wrap at call time
    wkt_udf = F.pandas_udf(_geojson_wkt_series, "string")
    return keep("geojson", out.withColumn("geometry_wkt", wkt_udf("geometry_json")))


def _geojson_wkt_series(geom_json):  # pd.Series[str] -> pd.Series[str]
    import json

    from duckdb_postgis_spark.functions.wkb import from_geojson, to_wkt

    def conv(s):
        if s is None:
            return None
        try:
            return to_wkt(from_geojson(json.loads(s)))
        except (ValueError, KeyError, TypeError, IndexError):
            return None

    return geom_json.map(conv)


def _geometry_as_string(schema):
    """Rewrite features.element.geometry to StringType (the JSON source
    returns the raw JSON text for StringType fields — lossless for any
    geometry nesting depth)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    fields = []
    for f in schema.fields:
        if f.name == "features" and isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, StructType
        ):
            elem = StructType(
                [
                    StructField("geometry", StringType()) if g.name == "geometry" else g
                    for g in f.dataType.elementType.fields
                ]
            )
            fields.append(StructField(f.name, ArrayType(elem), f.nullable))
        else:
            fields.append(f)
    return StructType(fields)


def _struct_field(dtype, name: str):
    """``name``'s field of a struct type, matched case-insensitively as
    Spark's default resolver matches a column path; None when there is
    none."""
    if not isinstance(dtype, StructType):
        return None
    return next((f for f in dtype.fields if f.name.lower() == name.lower()), None)


def _local_frame(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Driver-built rows as an Arrow-backed local relation.

    ``createDataFrame(list_of_dicts)`` plans a ``Scan ExistingRDD`` whose
    pickled rows every query over the frame decodes again; an Arrow table
    plans a ``LocalTableScan``.  Columns come in the order PySpark's dict
    inference gives them (each row's keys sorted, new keys appended), and
    the five Arrow types below map to the Spark types that inference
    picks, all nullable (a column mixing ints and floats, which that
    inference rejects, becomes double).  Any other column — text mixed
    with other values, which PySpark widens to string, an all-NULL
    column, which it refuses, or a type whose mapping differs — sends the
    rows through PySpark's own inference as before."""
    import pyarrow as pa

    keys = dict.fromkeys(k for r in records for k in sorted(r))
    try:
        table = pa.table({k: pa.array([r.get(k) for r in records]) for k in keys})
    except (pa.ArrowException, OverflowError):
        return spark.createDataFrame(records)
    same = (pa.int64(), pa.float64(), pa.string(), pa.binary(), pa.bool_())
    if not all(t in same for t in table.schema.types):
        return spark.createDataFrame(records)
    return spark.createDataFrame(table)


# --------------------------------------------------------------------------
# GeoPackage (SQLite container) — stdlib sqlite3, no GDAL
# --------------------------------------------------------------------------


def read_geopackage(
    spark: SparkSession, path: str, layer: str | None = None
) -> DataFrame:
    """GeoPackage reader (reference: GDAL ``st_read``,
    core_processor.rs:393-398). A .gpkg is a SQLite database; the feature
    table is listed in ``gpkg_contents`` and geometry blobs carry a 'GP'
    header followed by standard WKB. The header is stripped and the geometry
    column keeps its name, holding the raw WKB bytes (parsed downstream by
    functions/wkb.py), plus ``crs_epsg`` from the SRS tables. Driver-side
    by design (small files); at scale pre-convert to parquet."""
    con = sqlite3.connect(path)
    try:
        cur = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type='features'"
        )
        tables = [r[0] for r in cur.fetchall()]
        if not tables:
            raise ValueError("no feature tables in GeoPackage")
        tbl = layer or tables[0]
        gcol_row = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE table_name=?",
            (tbl,),
        ).fetchone()
        gcol = gcol_row[0] if gcol_row else None
        epsg = _gpkg_epsg(con, tbl)
        rows = con.execute(f'SELECT * FROM "{tbl}"').fetchall()
        cols = [d[0] for d in con.execute(f'SELECT * FROM "{tbl}" LIMIT 0').description]
    finally:
        con.close()
    records = []
    for r in rows:
        rec = dict(zip(cols, r))
        if gcol and rec.get(gcol) is not None:
            rec[gcol] = _gpkg_geom_to_wkb(rec[gcol])
        if epsg is not None:
            rec["crs_epsg"] = epsg
        records.append(rec)
    if not records:
        return spark.createDataFrame([], schema=", ".join(f"`{c}` string" for c in cols))
    return _local_frame(spark, records)


def _gpkg_epsg(con: sqlite3.Connection, tbl: str) -> str | None:
    """Authoritative CRS from GeoPackage metadata — gpkg_contents.srs_id
    resolved through gpkg_spatial_ref_sys to the EPSG code (the reference
    queries st_read_meta's auth_code, geo_strategy.rs:55-70). Returns None
    when the tables are absent/unresolvable → caller falls back to range
    inference."""
    try:
        row = con.execute(
            "SELECT srs_id FROM gpkg_contents WHERE table_name=?", (tbl,)
        ).fetchone()
        if row is None or row[0] is None:
            return None
        srs_id = int(row[0])
        ref = con.execute(
            "SELECT organization, organization_coordsys_id "
            "FROM gpkg_spatial_ref_sys WHERE srs_id=?",
            (srs_id,),
        ).fetchone()
        if ref and ref[0] and str(ref[0]).upper() == "EPSG" and ref[1] is not None:
            return str(int(ref[1]))
        return str(srs_id) if srs_id > 0 else None
    except sqlite3.Error:
        return None


def _gpkg_geom_to_wkb(blob: bytes) -> bytes:
    """Strip the GeoPackage binary header (magic 'GP', version, flags,
    srs_id, optional envelope) → raw WKB."""
    if blob[:2] != b"GP":
        return bytes(blob)  # already WKB
    flags = blob[3]
    env_code = (flags >> 1) & 0x07
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env_code, 0)
    return bytes(blob[8 + env_len :])


# --------------------------------------------------------------------------
# Zipped Shapefile — minimal pure-python codec (all geometry types + DBF)
# --------------------------------------------------------------------------


def read_zipped_shapefile(spark: SparkSession, zip_path: str) -> DataFrame:
    """Zipped-shapefile reader (reference: GDAL vsizip st_read,
    core_processor.rs:399-406 + member discovery :270-283). Pure-python
    parser for every ESRI shape class — Point(Z/M), MultiPoint(Z/M),
    PolyLine(Z/M), Polygon(Z/M), MultiPatch, Z/M forced to 2D — emitting
    standard WKB (``geometry_wkb``, written by functions/wkb.py), centroid
    ``x``/``y`` probe columns, .dbf attributes, and ``crs_epsg`` from the
    .prj sniff (geo_strategy.rs:22-44)."""
    from duckdb_postgis_spark.functions.geo import crs_from_prj_text
    from duckdb_postgis_spark.functions.wkb import centroid, wkb_encode

    shp_member = find_shapefile_path(zip_path)
    base = shp_member[: -len(".shp")]
    with zipfile.ZipFile(zip_path) as zf:
        shp = zf.read(shp_member)
        names = set(zf.namelist())
        dbf = zf.read(base + ".dbf") if base + ".dbf" in names else None
        prj = zf.read(base + ".prj").decode("ascii", "ignore") if base + ".prj" in names else ""
    geoms = _parse_shp_geoms(shp)
    attrs = _parse_dbf(dbf) if dbf else [{} for _ in geoms]
    epsg = crs_from_prj_text(prj) if prj else "4326"
    records = []
    for g, a in zip(geoms, attrs):
        rec = dict(a)
        if g is None:  # Null shape (type 0)
            rec["x"] = rec["y"] = None
            rec["geometry_wkb"] = None
        else:
            rec["x"], rec["y"] = centroid(g)
            rec["geometry_wkb"] = wkb_encode(g)
        rec["crs_epsg"] = epsg
        records.append(rec)
    if not records:
        return spark.createDataFrame(
            [], schema="x double, y double, geometry_wkb binary, crs_epsg string"
        )
    return _local_frame(spark, records)


def _parse_shp_geoms(shp: bytes) -> list[Geom | None]:
    """ESRI .shp main file: 100-byte header, then (record header, shape).
    Returns one geometry (or None for Null shapes) per record. Shape
    types (ESRI spec): 1/11/21 Point, 8/18/28 MultiPoint, 3/13/23 PolyLine,
    5/15/25 Polygon; the Z/M payloads trail the XY block and are skipped via
    the record length (Force2D, matching geo_strategy.rs:283-291)."""
    out: list[Geom | None] = []
    pos = 100
    n = len(shp)
    while pos + 8 <= n:
        (_recno, content_len) = struct.unpack(">ii", shp[pos : pos + 8])
        pos += 8
        out.append(_shape_to_geom(shp, pos))
        pos += content_len * 2  # content length is in 16-bit words
    return out


def _shape_to_geom(shp: bytes, pos: int) -> Geom | None:
    shape_type = struct.unpack("<i", shp[pos : pos + 4])[0]
    if shape_type == 0:
        return None
    if shape_type == 31:  # MultiPatch (round 7; GDAL's st_read reads these)
        return _multipatch_to_geom(shp, pos)
    base = shape_type % 10  # 11→1 (PointZ), 23→3 (PolyLineM), ...
    if base == 1:  # Point
        return ("Point", struct.unpack("<dd", shp[pos + 4 : pos + 20]))
    if base == 8:  # MultiPoint: bbox, numPoints, points
        (npts,) = struct.unpack("<i", shp[pos + 36 : pos + 40])
        return ("MultiPoint", [("Point", p) for p in _read_xy(shp, pos + 40, npts)])
    if base in (3, 5):
        # PolyLine / Polygon: bbox, numParts, numPoints, parts, points
        nparts, npts = struct.unpack("<ii", shp[pos + 36 : pos + 44])
        parts = list(struct.unpack(f"<{nparts}i", shp[pos + 44 : pos + 44 + 4 * nparts]))
        pts = _read_xy(shp, pos + 44 + 4 * nparts, npts)
        bounds = parts + [npts]
        rings = [pts[bounds[i] : bounds[i + 1]] for i in range(nparts)]
        if base == 3:
            lines = [("LineString", r) for r in rings]
            return lines[0] if len(lines) == 1 else ("MultiLineString", lines)
        return _assemble_polygons(rings)
    raise ValueError(f"unsupported shapefile shape type {shape_type}")


#: MultiPatch part types (ESRI spec): triangle strip, triangle fan, outer
#: ring, inner ring, first ring, ring (role unspecified → winding heuristic)
_MP_TRI_STRIP, _MP_TRI_FAN, _MP_OUTER, _MP_INNER, _MP_FIRST, _MP_RING = range(6)


def _multipatch_to_geom(shp: bytes, pos: int) -> Geom:
    """MultiPatch (type 31) → 2D MultiPolygon, the same surface
    flattening GDAL's shapefile driver applies under Force2D
    (geo_strategy.rs:283-291 forces 2D anyway): triangle strips/fans
    explode into one triangle polygon each; OuterRing/FirstRing start a
    polygon, InnerRing attaches as a hole of the most recent polygon, and
    bare Ring parts fall back to the winding heuristic used for plain
    polygons.  The record layout is bbox, numParts, numPoints, parts[],
    partTypes[], points[] (Z/M payloads trail and are skipped via the
    record length)."""
    nparts, npts = struct.unpack("<ii", shp[pos + 36 : pos + 44])
    off = pos + 44
    parts = list(struct.unpack(f"<{nparts}i", shp[off : off + 4 * nparts]))
    off += 4 * nparts
    ptypes = list(struct.unpack(f"<{nparts}i", shp[off : off + 4 * nparts]))
    off += 4 * nparts
    pts = _read_xy(shp, off, npts)
    bounds = parts + [npts]

    def closed(ring: list[tuple[float, float]]) -> list[tuple[float, float]]:
        return ring if ring and ring[0] == ring[-1] else ring + [ring[0]]

    polys: list[list[list[tuple[float, float]]]] = []
    for i, ptype in enumerate(ptypes):
        seg = pts[bounds[i] : bounds[i + 1]]
        if ptype == _MP_TRI_STRIP:
            for j in range(len(seg) - 2):
                polys.append([[seg[j], seg[j + 1], seg[j + 2], seg[j]]])
        elif ptype == _MP_TRI_FAN:
            for j in range(1, len(seg) - 1):
                polys.append([[seg[0], seg[j], seg[j + 1], seg[0]]])
        elif ptype in (_MP_OUTER, _MP_FIRST):
            polys.append([closed(seg)])
        elif ptype == _MP_INNER:
            if polys:
                polys[-1].append(closed(seg))
            else:  # dangling hole: promote (GDAL tolerates these too)
                polys.append([closed(seg)])
        elif ptype == _MP_RING:
            ring = closed(seg)
            area = sum(
                x1 * y2 - x2 * y1
                for (x1, y1), (x2, y2) in zip(ring, ring[1:])
            )
            if area <= 0 or not polys:  # clockwise → new outer ring
                polys.append([ring])
            else:
                polys[-1].append(ring)
        else:
            raise ValueError(f"unsupported MultiPatch part type {ptype}")
    if not polys:
        raise ValueError("MultiPatch record with no surface parts")
    return ("MultiPolygon", [("Polygon", p) for p in polys])


def _read_xy(shp: bytes, pos: int, npts: int) -> list[tuple[float, float]]:
    vals = struct.unpack(f"<{2 * npts}d", shp[pos : pos + 16 * npts])
    return [(vals[2 * i], vals[2 * i + 1]) for i in range(npts)]


def _assemble_polygons(rings: list[list[tuple[float, float]]]) -> Geom:
    """SHP polygon rings: outer rings wind clockwise (negative shoelace
    area), holes counter-clockwise, holes follow their outer ring — the
    standard GDAL grouping heuristic."""
    polys: list[list[list[tuple[float, float]]]] = []
    for ring in rings:
        area = sum(
            x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:])
        )
        if area <= 0 or not polys:  # clockwise → new outer ring
            polys.append([ring])
        else:  # counter-clockwise → hole of the most recent outer
            polys[-1].append(ring)
    if len(polys) == 1:
        return ("Polygon", polys[0])
    return ("MultiPolygon", [("Polygon", p) for p in polys])


def _parse_dbf(dbf: bytes) -> list[dict]:
    """Minimal dBase III parser: C (text) and N/F (numeric) fields."""
    n_records = struct.unpack("<I", dbf[4:8])[0]
    header_len, record_len = struct.unpack("<HH", dbf[8:12])
    fields = []
    pos = 32
    while dbf[pos] != 0x0D:
        name = dbf[pos : pos + 11].split(b"\x00")[0].decode("ascii", "ignore")
        ftype = chr(dbf[pos + 11])
        flen = dbf[pos + 16]
        fields.append((name, ftype, flen))
        pos += 32
    out = []
    pos = header_len
    for _ in range(n_records):
        rec = dbf[pos : pos + record_len]
        pos += record_len
        if not rec or rec[0:1] == b"*":  # deleted
            continue
        vals, off = {}, 1
        for name, ftype, flen in fields:
            raw = rec[off : off + flen].decode("ascii", "ignore").strip()
            off += flen
            if ftype in ("N", "F") and raw:
                vals[name] = float(raw) if ("." in raw or "e" in raw.lower()) else int(raw)
            else:
                vals[name] = raw or None
        out.append(vals)
    return out


# --------------------------------------------------------------------------
# Excel — pure-stdlib xlsx reader (zip + XML); legacy .xls needs xlrd
# --------------------------------------------------------------------------


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel reader (reference: DuckDB ``read_xlsx``,
    core_processor.rs:407-412; detection ported per duckdb_tests.rs:54-68;
    legacy-xls coverage per duckdb_tests.rs:70-83).
    An .xlsx is a zip of XML — parsed with stdlib zipfile + ElementTree
    (first worksheet + sharedStrings); a legacy binary .xls (OLE2 magic
    D0 CF 11 E0) goes through the pure-stdlib BIFF8 walk in
    ``sources/xls_biff.py`` — no openpyxl/xlrd needed.  Driver-side by
    design: spreadsheets arrive as single small files; at scale
    pre-convert to parquet."""
    if zipfile.is_zipfile(path):
        header, data = _parse_xlsx(path)
    else:
        from duckdb_postgis_spark.sources.xls_biff import parse_xls

        with open(path, "rb") as fh:
            header, data = parse_xls(fh.read())
    if not data:
        return spark.createDataFrame(
            [], schema=", ".join(f"`{c}` string" for c in header) or "c0 string"
        )
    # both formats store every number as a double; cells that happened to
    # be integral decoded as int — re-widen any column that mixes both.
    # Arrow would widen them itself, but a column that also holds text
    # falls back to PySpark's inference, whose string form of 2 is "2"
    # and of 2.0 is "2.0"
    for i in range(len(header)):
        vals = [row[i] for row in data]
        if any(isinstance(v, float) for v in vals) and any(
            type(v) is int for v in vals
        ):
            for row in data:
                if type(row[i]) is int:
                    row[i] = float(row[i])
    return _local_frame(spark, [dict(zip(header, row)) for row in data]).select(
        *header
    )


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _parse_xlsx(path: str) -> tuple[list[str], list[list]]:
    """First worksheet of an .xlsx → (header, rows). Handles shared strings
    (t=\"s\"), inline strings (t=\"inlineStr\"), booleans (t=\"b\"), and
    numbers (int when integral); blank cells and ragged rows become None.
    Column position is decoded from the cell reference (A1 style), so
    sparse rows stay aligned."""
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        sheet = next(
            (
                n
                for n in sorted(names)
                if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
            ),
            None,
        )
        if sheet is None:
            raise ValueError(f"no worksheet found in {path}")
        root = ET.fromstring(zf.read(sheet))

    rows: list[list] = []
    for row_el in root.iter(f"{_XLSX_NS}row"):
        cells: dict[int, object] = {}
        for c in row_el.findall(f"{_XLSX_NS}c"):
            ref = c.get("r", "")
            col = 0
            for ch in ref:
                if ch.isalpha():
                    col = col * 26 + (ord(ch.upper()) - 64)
                else:
                    break
            idx = col - 1 if col else len(cells)
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                cells[idx] = "".join(
                    t.text or "" for t in c.iter(f"{_XLSX_NS}t")
                )
                continue
            v = c.find(f"{_XLSX_NS}v")
            if v is None or v.text is None:
                continue
            if ctype == "s":
                cells[idx] = shared[int(v.text)]
            elif ctype == "b":
                cells[idx] = v.text == "1"
            elif ctype == "str":  # formula cached string result
                cells[idx] = v.text
            else:
                num = float(v.text)
                cells[idx] = int(num) if num.is_integer() else num
        width = max(cells, default=-1) + 1
        rows.append([cells.get(i) for i in range(width)])

    if not rows:
        return [], []
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    header = [
        str(h) if h is not None else f"c{i}" for i, h in enumerate(rows[0])
    ]
    return header, rows[1:]


__all__ = [
    "read_file",
    "read_csv",
    "csv_probe",
    "read_geojson",
    "read_geopackage",
    "read_zipped_shapefile",
    "read_excel",
]


def write_sample_zip_shapefile(path: str, points: list[tuple[float, float]], prj: str = "") -> None:
    """Test helper: build a minimal zipped point shapefile."""
    payloads = [struct.pack("<idd", 1, x, y) for x, y in points]
    write_sample_zip_shapefile_records(path, payloads, prj)


def shp_poly_payload(shape_type: int, parts: list[list[tuple[float, float]]]) -> bytes:
    """Test helper: one PolyLine (3) / Polygon (5) record payload."""
    pts = [p for part in parts for p in part]
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    starts, acc = [], 0
    for part in parts:
        starts.append(acc)
        acc += len(part)
    return (
        struct.pack("<i", shape_type)
        + struct.pack("<dddd", min(xs), min(ys), max(xs), max(ys))
        + struct.pack("<ii", len(parts), len(pts))
        + struct.pack(f"<{len(parts)}i", *starts)
        + b"".join(struct.pack("<dd", x, y) for x, y in pts)
    )


def shp_multipoint_payload(points: list[tuple[float, float]]) -> bytes:
    """Test helper: one MultiPoint (8) record payload."""
    xs, ys = [p[0] for p in points], [p[1] for p in points]
    return (
        struct.pack("<i", 8)
        + struct.pack("<dddd", min(xs), min(ys), max(xs), max(ys))
        + struct.pack("<i", len(points))
        + b"".join(struct.pack("<dd", x, y) for x, y in points)
    )


def shp_multipatch_payload(
    parts: list[tuple[int, list[tuple[float, float]]]]
) -> bytes:
    """Test helper: one MultiPatch (31) record payload — parts are
    (part_type, xy_points); the mandatory Z block (zmin, zmax, one zero per
    point) trails the XY data exactly as in real files, so round-trip tests
    prove the force-2D skip honors the record length."""
    pts = [p for _, part in parts for p in part]
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    starts, acc = [], 0
    for _, part in parts:
        starts.append(acc)
        acc += len(part)
    return (
        struct.pack("<i", 31)
        + struct.pack("<dddd", min(xs), min(ys), max(xs), max(ys))
        + struct.pack("<ii", len(parts), len(pts))
        + struct.pack(f"<{len(parts)}i", *starts)
        + struct.pack(f"<{len(parts)}i", *[t for t, _ in parts])
        + b"".join(struct.pack("<dd", x, y) for x, y in pts)
        + struct.pack("<dd", 0.0, 0.0)  # z range
        + struct.pack(f"<{len(pts)}d", *([0.0] * len(pts)))  # z values
    )


def write_sample_zip_shapefile_records(
    path: str, shape_payloads: list[bytes], prj: str = ""
) -> None:
    """Test helper: zip a .shp (given raw record payloads) + minimal .dbf."""
    shp_records = b""
    for i, content in enumerate(shape_payloads, 1):
        shp_records += struct.pack(">ii", i, len(content) // 2) + content
    shape_type = (
        struct.unpack("<i", shape_payloads[0][:4])[0] if shape_payloads else 1
    )
    header = struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(
        ">i", (100 + len(shp_records)) // 2
    ) + struct.pack("<ii", 1000, shape_type) + struct.pack(
        "<dddddddd", 0, 0, 0, 0, 0, 0, 0, 0
    )
    shp = header + shp_records
    # minimal dbf with one N field 'id'
    n = len(shape_payloads)
    fields = struct.pack("<11sc4xBB14x", b"id", b"N", 10, 0)
    dbf_header = struct.pack("<BBBBIHH20x", 3, 24, 1, 1, n, 32 + 32 + 1, 11)
    records = b"".join(b" " + str(i).rjust(10).encode() for i in range(n))
    dbf = dbf_header + fields + b"\x0d" + records + b"\x1a"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("layer.shp", shp)
        zf.writestr("layer.dbf", dbf)
        if prj:
            zf.writestr("layer.prj", prj)
