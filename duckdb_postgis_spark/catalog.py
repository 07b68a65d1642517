"""Testdata catalog: the ten driver tables as DataFrames / temp views.

Mirrors the reference's single materialized table ``data``
(``core_processor.rs:391-428``) generalized to a multi-table catalog.
Parquet is self-describing: like the reference, which takes a file's
schema from its footer in its own process (``core_processor.rs:421``),
``read_parquet`` reads the footer on the driver and declares the schema
it holds, so registering a table launches no Spark job.  Spark's
vectorized parquet reader still supplies column pruning + predicate
pushdown.

``events.ts`` has shipped in two physical encodings across driver rounds
(int64 nanos / TIMESTAMP(NANOS), then TIMESTAMP(MICROS)).  The loader
branches on the *observed* dtype instead of hard-coding one, and a cached
parquet-footer probe asserts the decoded min/max timestamps land in a sane
year range so any future encoding drift fails LOUDLY at load instead of
silently collapsing every window to 1970 (the round-3 failure mode).
"""

from __future__ import annotations

import datetime as _dt
import functools
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_json_string,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: tables small enough to broadcast in any join at any scale factor —
#: at TPC-H geometry these grow ~linearly but stay tiny relative to facts.
DIMENSIONS = ("region", "nation", "supplier", "part", "customer")

#: events timestamps must decode into this window; anything outside means
#: the physical encoding was misread (e.g. micros reinterpreted as nanos).
_TS_SANE_MIN = _dt.datetime(2000, 1, 1)
_TS_SANE_MAX = _dt.datetime(2100, 1, 1)


def _probe_events_ts(path: str) -> str:
    """Cache-keyed on (path, size, mtime) so a driver that rewrites
    events.parquet in place during a long-lived process re-probes instead
    of reusing a stale classification (ADVICE r4).

    ``path`` may be a single parquet file (the testdata shape) or a
    DIRECTORY of part files (the shape every at-scale table has): for a
    directory the probe walks EVERY part — the encoding must agree across
    all parts, and the min/max sanity window applies to their union.
    (ADVICE r6: a bounded sample let a mixed encoding in part 17+ load
    silently.)  Footer reads are driver-cheap — the same O(#files)
    metadata cost Spark's own scan planning already pays — and each part's
    verdict is cached by (path, size, mtime), so repeat loads are
    stat-only."""
    st = os.stat(path)
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            raise ValueError(f"events table directory {path} has no part files")
        kinds = {
            _probe_events_ts(os.path.join(path, p)) for p in parts
        }
        if len(kinds) > 1:
            raise ValueError(
                f"events table at {path} mixes ts encodings across part "
                f"files ({sorted(kinds)}) — refusing to load."
            )
        return kinds.pop()
    return _probe_events_ts_cached(path, st.st_size, st.st_mtime_ns)


@lru_cache(maxsize=None)
def _probe_events_ts_cached(path: str, _size: int, _mtime_ns: int) -> str:
    """Classify the physical encoding of ``events.ts`` from the parquet
    footer (driver-side, no Spark job) and validate its min/max statistics.

    Returns ``"int64_nanos"`` (plain int64 or TIMESTAMP(NANOS) logical —
    both need the nanosAsLong escape hatch + micros rebuild) or
    ``"timestamp"`` (TIMESTAMP(MICROS/MILLIS) — Spark reads it natively).
    Raises ``ValueError`` on an unrecognized encoding or insane stats, so
    schema drift is a loud load-time error, never silent corruption.  A
    stats-less file cannot dodge the gate: with no footer statistics the
    probe decodes a bounded sample of real values instead (ADVICE r4 — the
    loud-failure guarantee must hold even without statistics).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    t = pf.schema_arrow.field("ts").type
    if pa.types.is_timestamp(t) and t.unit in ("us", "ms"):
        kind = "timestamp"
    elif pa.types.is_int64(t) or (pa.types.is_timestamp(t) and t.unit == "ns"):
        kind = "int64_nanos"
    else:
        raise ValueError(
            f"events.ts at {path} has unsupported physical type {t!r}; "
            "known encodings: int64 nanos, TIMESTAMP(NANOS/MICROS/MILLIS). "
            "Update duckdb_postgis_spark/catalog.py for the new layout."
        )

    lo = hi = None
    md = pf.metadata
    for rg in range(md.num_row_groups):
        for ci in range(md.row_group(rg).num_columns):
            col = md.row_group(rg).column(ci)
            if col.path_in_schema != "ts":
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if kind == "int64_nanos" and not isinstance(mn, _dt.datetime):
                mn = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=mn // 1000)
                mx = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=mx // 1000)
            if isinstance(mn, _dt.datetime) and mn.tzinfo is not None:
                mn = mn.replace(tzinfo=None)
                mx = mx.replace(tzinfo=None)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    if lo is None:
        # no row group carried statistics: validate against a bounded
        # sample of actual values (first batch only — stays driver-cheap
        # at any file size) so the gate cannot be dodged by a stats-less
        # writer silently shipping a different unit in the same int64.
        for bi, batch in enumerate(pf.iter_batches(batch_size=1024, columns=["ts"])):
            if bi >= 64:
                break  # bounded probe: ≤64k rows even if every batch is null
            vals = [v for v in batch.column(0).to_pylist() if v is not None]
            if not vals:
                continue  # all-null batch: keep sampling until values appear
            if kind == "int64_nanos" and not isinstance(vals[0], _dt.datetime):
                vals = [
                    _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v // 1000)
                    for v in vals
                ]
            vals = [v.replace(tzinfo=None) if v.tzinfo else v for v in vals]
            lo, hi = min(vals), max(vals)
            break
        if lo is None and pf.metadata.num_rows > 0:
            # stats-less AND no non-null ts anywhere: the gate cannot
            # validate the encoding, so fail loud instead of passing it.
            raise ValueError(
                f"events.ts at {path} has no row-group statistics and no "
                "non-null values to sample; cannot validate the physical "
                "encoding — refusing to load."
            )
    if lo is not None and not (_TS_SANE_MIN <= lo and hi <= _TS_SANE_MAX):
        raise ValueError(
            f"events.ts at {path} decodes to [{lo} .. {hi}] under encoding "
            f"{kind!r} — outside the sane window [{_TS_SANE_MIN} .. "
            f"{_TS_SANE_MAX}]. The physical encoding drifted; refusing to "
            "load rather than produce silently-wrong timestamps."
        )
    return kind


def rebuild_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the raw ``ts`` column to session TimestampType, branching
    on the dtype the reader actually produced.  Shared by the batch catalog
    and the streaming source so both tolerate the same encodings."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # int64 nanos (or TIMESTAMP(NANOS) read via nanosAsLong): exact
        # integer division — nanos exceed 2^53, float division corrupts.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, (TimestampNTZType, TimestampType)):
        # TIMESTAMP(MICROS/MILLIS): native read; NTZ→TZ cast preserves the
        # wall clock under the session timezone, matching the DuckDB oracle
        # which reads the same file as a naive TIMESTAMP.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts read as unsupported Spark type {ts_type}; "
        "update duckdb_postgis_spark/catalog.py for the new layout."
    )


#: logical-DataFrame cache keyed by (session id, sf_dir, table, file
#: size+mtime).  A base relation's DataFrame is just an analyzed logical
#: plan — reusing it does NOT reuse any execution state (each downstream
#: query builds a fresh physical plan → fresh RDDs → full re-execution),
#: it only skips the repeated py4j reader calls and driver-side footer
#: read (a few ms per table per call).  This mirrors the DuckDB oracle
#: setup, which registers its views over the same files once per session.  The
#: size/mtime key drops the entry if the file is rewritten in place, the
#: same staleness rule as the events-ts probe cache.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def _staleness_sig(path: str, st: os.stat_result) -> tuple:
    """Cache-staleness signature for a table path.  A plain file keys on
    its own (size, mtime).  A DIRECTORY-shaped table keys on the sorted
    per-part (name, size, mtime) tuples: rewriting a part file in place
    does not touch the directory inode's stat, so keying on the directory
    itself would silently serve the stale DataFrame (ADVICE r6) — the
    same rule the per-part ts probe already applies."""
    if os.path.isdir(path):
        sig = []
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                pst = os.stat(os.path.join(path, f))
                sig.append((f, pst.st_size, pst.st_mtime_ns))
        return tuple(sig)
    return (st.st_size, st.st_mtime_ns)


def table_num_rows(path: str) -> int:
    """Row count from parquet footers (file or directory) — driver-side
    metadata only, NO Spark job (the same cost Spark's scan planning
    already pays).  Cached on the table's staleness signature so an
    in-place testdata rewrite re-probes.  Used by the size-threshold
    dispatchers (geo_knn_join) and quadratic-plan guards
    (join_theta_range)."""
    st = os.stat(path)
    return _table_num_rows_cached(path, _staleness_sig(path, st))


@functools.lru_cache(maxsize=256)
def _table_num_rows_cached(path: str, _sig: tuple) -> int:
    import pyarrow.parquet as pq

    ds = pq.ParquetDataset(path)
    return sum(frag.metadata.num_rows for frag in ds.fragments)


def _hidden(name: str) -> bool:
    """Spark's listing filter (``InMemoryFileIndex.shouldFilterOutPathName``):
    names starting with ``_`` (unless a ``k=v`` partition directory) or
    ``.`` and in-flight ``._COPYING_`` files are skipped; the Parquet
    summary files ``_common_metadata`` / ``_metadata`` are kept."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _schema_file(spark: SparkSession, conf, paths: tuple[str, ...]):
    """The one file whose footer Spark's inference reads when
    ``mergeSchema`` is off (``ParquetUtils.inferSchema``): over every leaf
    file of every path, sorted by path string, a ``_common_metadata``
    summary, else a ``_metadata`` summary, else the first data file.
    Listed through each path's Hadoop ``FileSystem`` (globs expanded, as
    the reader does), so any URI Spark reads works.  None when there is
    no file."""
    jvm = spark._jvm
    leaves: dict[str, object] = {}

    def walk(fs, status, root: bool) -> None:
        path = status.getPath()
        text = path.toString()
        if not root and _hidden(text.rsplit("/", 1)[-1]):
            return
        if not status.isDirectory():
            leaves[text] = path
            return
        for child in fs.listStatus(path):
            walk(fs, child, False)

    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(conf)
        for status in fs.globStatus(jpath) or []:
            walk(fs, status, True)
    summaries = ("_common_metadata", "_metadata")
    name = {t: t.rsplit("/", 1)[-1] for t in sorted(leaves)}
    picks = [t for s in summaries for t in name if name[t] == s]
    picks += [t for t in name if name[t] not in summaries]
    return leaves[picks[0]] if picks else None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    Spark infers a parquet schema by reading one footer inside a one-task
    job, on every read.  This reads the same footer on the driver and
    converts it with the function that job runs
    (``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session's current
    SQLConf, so ``spark.sql.legacy.parquet.nanosAsLong`` and Spark's
    embedded row metadata apply), then declares it to the reader.  The
    schema, plan and rows are the inferred read's; partition columns are
    still inferred from the directory names.  With no file to read (a
    missing path, an empty directory) it is Spark's own inferred read, so
    errors stay Spark's.  Reads that need every footer (``mergeSchema``)
    do not belong here."""
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    path = _schema_file(spark, conf, paths)
    if path is None:
        return spark.read.parquet(*paths)
    parquet = spark._jvm.org.apache.parquet
    metadata = parquet.hadoop.ParquetFileReader.readFooter(
        conf, path, parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    spark_parquet = spark._jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(
        parquet.hadoop.Footer(path, metadata),
        spark_parquet.ParquetToSparkSchemaConverter(state.conf()),
    )
    return spark.read.schema(_parse_datatype_json_string(schema.json())).parquet(
        *paths
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except FileNotFoundError:
        # keep the error contract: a wrong sf_dir surfaces Spark's typed
        # PATH_NOT_FOUND AnalysisException (tests/test_oracle_parity.py),
        # not a driver-side stat crash
        return spark.read.parquet(path)
    key = (spark, sf_dir, name, _staleness_sig(path, st))
    df = _TABLE_CACHE.get(key)
    if df is not None:
        return df
    if name == "events":
        _probe_events_ts(path)  # loud sanity gate, cached per path
        # harmless when ts is a real timestamp; required for legacy nanos
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = rebuild_events_ts(read_parquet(spark, path))
    else:
        df = read_parquet(spark, path)
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


# --------------------------------------------------------------------------
# scan-layout normalization (ingest-time OPTIMIZE)
# --------------------------------------------------------------------------
#: derived layouts live next to the other materializations (plans/layout.py)
_SCAN_LAYOUT_ROOT = "/tmp/duckdb_postgis_spark_layout/scan"
#: below this, a single row group is already the right layout
_SCAN_LAYOUT_MIN_ROWS = 50_000
#: don't create row groups smaller than this (metadata overhead dominates)
_SCAN_LAYOUT_MIN_GROUP = 16_384
#: per-table overrides (r9): documents and embeddings carry orders of
#: magnitude more PER-ROW compute (split/shingle/stopword scans, 64-dim
#: array math) than the TPC-H scalar tables, so their scans are
#: compute-bound, not byte-bound — a 5 MB single-row-group documents file
#: serializes a seconds-long text stage onto 2 of 32 cores (measured at
#: the sf1 shape: the pipeline quality filter ran 2.0 s on 2 tasks).
#: Finer groups let BOTH engines fan the compute out; group metadata
#: overhead is nanoseconds against millisecond-per-row work.
_SCAN_LAYOUT_MIN_ROWS_OF = {"documents": 2_048, "embeddings": 2_048}
_SCAN_LAYOUT_MIN_GROUP_OF = {"documents": 1_024, "embeddings": 1_024}


def ensure_scan_layout(
    sf_dir: str, target_groups: int = 32
) -> tuple[str, float]:
    """Materialize a scan-parallel copy of ``sf_dir`` and return
    ``(optimized_dir, one_time_cost_seconds)``.

    Parquet scans parallelize at ROW-GROUP granularity — in Spark AND in
    DuckDB — so a file with one row group is scanned by exactly one
    thread/task no matter how many cores exist.  The driver's testdata
    ships every table as a single row group (sf0.1 lineitem: 600k rows,
    1 row group), which serializes every scan in both engines — a layout
    artifact of the generator's writer defaults, not an engine property.
    At 100 TB the ingest path owns the layout (this is what Delta/Iceberg
    OPTIMIZE and every warehouse loader do), so the engine provides the
    same step: rewrite large single-row-group files into
    ~``target_groups`` row groups, once, cached by source file size+mtime.
    Values are bit-identical (straight Arrow round-trip, ``version=2.6``
    so TIMESTAMP(NANOS) survives; multiset-equality pinned in
    tests/test_layout_plans.py); small tables are symlinked untouched.
    The events ts sanity gate re-probes the rewritten file through the
    normal ``table()`` path, so an encoding-corrupting rewrite would fail
    loudly, never silently.

    ``bench.py`` reports BOTH layouts (raw = the driver's files
    as-shipped, optimized = this layout) and BASELINE.md records DuckDB's
    own numbers on both — DuckDB speeds up 1.7× total (up to 7× on the
    scan-heavy queries) too, confirming the raw layout starves both
    engines and the optimized-layout comparison is engine-vs-engine, not
    a trick.
    """
    import time as _time

    import pyarrow.parquet as pq

    # layout imports this module, so its helpers are imported at call time
    from duckdb_postgis_spark.plans.layout import _token, publish

    out = (
        f"{_SCAN_LAYOUT_ROOT}/v2-granular-text_g{target_groups}_"
        f"{_token(sf_dir, *TABLES)}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for t in TABLES:
            src = f"{sf_dir}/{t}.parquet"
            dst = f"{tmp}/{t}.parquet"
            if os.path.isdir(src):
                # directory-shaped table (the at-scale norm): many part
                # files already parallelize the scan — link as-is
                os.symlink(os.path.abspath(src), dst)
                continue
            pf = pq.ParquetFile(src)
            rows = pf.metadata.num_rows
            min_rows = _SCAN_LAYOUT_MIN_ROWS_OF.get(t, _SCAN_LAYOUT_MIN_ROWS)
            min_group = _SCAN_LAYOUT_MIN_GROUP_OF.get(t, _SCAN_LAYOUT_MIN_GROUP)
            groups = max(1, min(target_groups, rows // min_group))
            if rows < min_rows or pf.metadata.num_row_groups >= groups:
                # already scan-friendly (or too small to matter): link
                # as-is.  os.stat follows the link, so every size/mtime
                # cache key (table cache, ts probe) keys on the REAL file.
                os.symlink(os.path.abspath(src), dst)
                continue
            row_group_size = -(-rows // groups)  # ceil
            pq.write_table(
                pf.read(), dst, row_group_size=row_group_size, version="2.6"
            )

    t0 = _time.perf_counter()
    if not publish(out, build):
        return out, 0.0
    return out, _time.perf_counter() - t0


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views (for the SQL-string operators)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
