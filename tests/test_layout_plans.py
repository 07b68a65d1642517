"""Physical-layout plan gates (M5): partition pruning and co-located joins.

Correct rows are necessary, the right plan is the point — these assert the
scan/exchange structure that makes the layouts pay off at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_postgis_spark import registry
from tests.test_plans import plan_of

registry.load_all()


def test_events_partition_pruning(spark, sf_dir):
    df = registry.QUERIES["events_partition_pruned"](spark, sf_dir)
    p = plan_of(df)
    scan = p[p.index("Scan parquet") :]
    filters = [ln for ln in scan.splitlines() if "PartitionFilters" in ln][0]
    assert "event_date" in filters and "2024-01-15" in filters, filters
    # the time predicate must NOT survive as a post-scan row filter
    assert "PushedFilters: []" in scan or "2024-01-15" not in (
        [ln for ln in scan.splitlines() if "PushedFilters" in ln] or [""]
    )[0]


def test_bucketed_join_has_no_exchange_below_join(spark, sf_dir):
    df = registry.QUERIES["join_bucketed_colocated"](spark, sf_dir)
    p = plan_of(df)
    assert "SortMergeJoin" in p, p
    assert "SelectedBucketsCount" in p, p
    # Every Exchange in the plan must be ABOVE the join (the 5-row agg on
    # o_orderpriority and the final sort) — none may repartition the join
    # keys, which is what bucketing eliminates.
    for ln in p.splitlines():
        if "hashpartitioning(" in ln or "rangepartitioning(" in ln:
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, ln


def test_bucketed_scan_reports_buckets(spark, sf_dir):
    from duckdb_postgis_spark.plans import ensure_bucketed_table

    li = ensure_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    assert li.count() > 0


def test_training_shards_layout(spark, sf_dir):
    """The shard writer's physical promises: one directory per lang, no file
    over maxRecordsPerFile rows, and doc_id ascending inside every file."""
    import glob

    import pyarrow.parquet as pq

    from duckdb_postgis_spark.plans.layout import ensure_training_shards

    ensure_training_shards(spark, sf_dir)
    from duckdb_postgis_spark.plans import layout

    tok = layout._token(sf_dir, "documents")
    path = f"{layout._LAYOUT_ROOT}/training_shards_{tok}"
    lang_dirs = sorted(glob.glob(f"{path}/lang=*"))
    assert len(lang_dirs) == 5, lang_dirs
    for d in lang_dirs:
        for f in glob.glob(f"{d}/*.parquet"):
            t = pq.read_table(f, columns=["doc_id"])
            assert t.num_rows <= 200, (f, t.num_rows)
            ids = t.column("doc_id").to_pylist()
            assert ids == sorted(ids), f


def test_compaction_shrinks_file_count(spark, sf_dir):
    """Fragmented layout has multiple small files per lang; compaction
    rewrites each lang directory into exactly one parquet file."""
    import glob

    from duckdb_postgis_spark.plans.layout import (
        ensure_compacted_docs,
        ensure_fragmented_docs,
    )

    frag = ensure_fragmented_docs(spark, sf_dir)
    comp = ensure_compacted_docs(spark, sf_dir)
    for lang_dir in sorted(glob.glob(f"{frag}/lang=*")):
        lang = lang_dir.rsplit("=", 1)[1]
        n_frag = len(glob.glob(f"{lang_dir}/*.parquet"))
        n_comp = len(glob.glob(f"{comp}/lang={lang}/*.parquet"))
        assert n_frag >= 2, (lang, n_frag)
        assert n_comp == 1, (lang, n_comp)
        assert n_comp < n_frag


def test_ivf_pruned_scan_uses_partition_filters(spark, sf_dir):
    """The nprobe cell predicate must prune parquet partitions — the scan
    plans PartitionFilters on cell, not a row-level filter over all cells."""
    from duckdb_postgis_spark.plans import layout

    df = layout._similarity_search_ivf_pruned_approx(spark, sf_dir)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], plan

    # the registered wrapper (exact + pinned booleans) must keep the pruned
    # scan's PartitionFilters in ITS plan too — the layout path is what runs
    from duckdb_postgis_spark import registry

    registry.load_all()
    wrapped = registry.QUERIES["similarity_search_ivf_pruned"](spark, sf_dir)
    wplan = wrapped._sc._jvm.PythonSQLUtils.explainString(
        wrapped._jdf.queryExecution(), "formatted"
    )
    assert any(
        "PartitionFilters" in ln and "cell" in ln for ln in wplan.splitlines()
    ), wplan


def test_snapshot_v1_immutable_after_append(spark, sf_dir):
    """Time-travel gate: reading version 1 AFTER version 2 exists returns
    exactly the pre-append membership, and the v1 scan's file list is
    manifest-1's list (appended files physically unreadable)."""
    import json

    from duckdb_postgis_spark.plans.layout import (
        ensure_versioned_docs,
        read_snapshot,
    )

    root = ensure_versioned_docs(spark, sf_dir)
    v1 = read_snapshot(spark, root, 1)
    assert v1.filter("doc_id % 2 = 1").count() == 0
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert v1.count() == base.filter("doc_id % 2 = 0").count()
    with open(f"{root}/manifest-1.json") as fh:
        m1 = json.load(fh)
    scanned = {r[0] for r in v1.select(F.input_file_name()).distinct().collect()}
    assert len(scanned) == len(m1["files"])


# --------------------------------------------------------------------------
# scan-layout normalization (catalog.ensure_scan_layout)
# --------------------------------------------------------------------------
def test_scan_layout_rechunks_values_identically():
    """The ingest-time re-chunk must multiply row groups on large
    single-row-group tables, keep values EXACTLY identical (multiset
    equality per table), leave small tables as symlinks, and be an
    idempotent cached no-op on the second call."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    from duckdb_postgis_spark.catalog import ensure_scan_layout

    src = "/root/testdata/sf0.1"
    out, _ = ensure_scan_layout(src)
    out2, sec2 = ensure_scan_layout(src)
    assert out2 == out and sec2 == 0.0  # cached: no rewrite on re-call

    # large tables: genuinely multi-row-group now
    for t, min_groups in (("lineitem", 8), ("orders", 4), ("events", 4)):
        pf = pq.ParquetFile(f"{out}/{t}.parquet")
        assert pf.metadata.num_row_groups >= min_groups, (
            t,
            pf.metadata.num_row_groups,
        )
        assert not os.path.islink(f"{out}/{t}.parquet")
    # small tables: untouched symlinks to the source files
    for t in ("region", "nation", "customer", "embeddings"):
        assert os.path.islink(f"{out}/{t}.parquet"), t

    # value identity: EXCEPT ALL both ways must be empty (exact multiset
    # equality — catches any rewrite-induced type or value drift,
    # including the TIMESTAMP(NANOS) events encoding)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "events"):
        for a, b in ((src, out), (out, src)):
            n = con.execute(
                f"SELECT count(*) FROM ("
                f"SELECT * FROM read_parquet('{a}/{t}.parquet') "
                f"EXCEPT ALL "
                f"SELECT * FROM read_parquet('{b}/{t}.parquet'))"
            ).fetchone()[0]
            assert n == 0, (t, a, b, n)


def test_scan_layout_events_probe_still_green(spark):
    """The rewritten events file must pass the ts sanity gate and load
    through the normal table() path with identical aggregate values."""
    from duckdb_postgis_spark.catalog import ensure_scan_layout, table

    src = "/root/testdata/sf0.1"
    out, _ = ensure_scan_layout(src)
    agg = lambda d: (  # noqa: E731
        table(spark, d, "events")
        .selectExpr(
            "count(*) AS n",
            "min(ts) AS lo",
            "max(ts) AS hi",
            "sum(crc32(cast(event_id AS string))) AS ck",
        )
        .collect()[0]
    )
    assert agg(src) == agg(out)


def test_scan_layout_parallelizes_the_scan(spark):
    """The point of the re-chunk: under data-sized file splits the raw
    single-row-group lineitem lands in ONE working scan partition (all
    other splits are empty — row groups are assigned by midpoint), while
    the normalized layout spreads rows across many partitions."""
    from duckdb_postgis_spark.catalog import ensure_scan_layout

    src = "/root/testdata/sf0.1"
    out, _ = ensure_scan_layout(src)
    ns = spark.newSession()
    ns.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    ns.conf.set("spark.sql.files.openCostInBytes", str(128 << 10))

    def working_partitions(d: str) -> int:
        df = ns.read.parquet(f"{d}/lineitem.parquet").withColumn(
            "pid", F.spark_partition_id()
        )
        return df.groupBy("pid").count().count()

    assert working_partitions(src) == 1
    assert working_partitions(out) >= 8


# --------------------------------------------------------------------------
# publish-by-rename commit (layout.publish)
# --------------------------------------------------------------------------
def _write_dir(tmp: str, text: str) -> None:
    import os

    os.makedirs(tmp)
    with open(f"{tmp}/part-0", "w") as fh:
        fh.write(text)


def _write_file(tmp: str, text: str) -> None:
    with open(tmp, "w") as fh:
        fh.write(text)


def _read(path: str) -> str:
    import os

    with open(f"{path}/part-0" if os.path.isdir(path) else path) as fh:
        return fh.read()


def test_publish_interrupted_build_leaves_no_path(tmp_path):
    """A build that raises publishes nothing and leaves no temp sibling;
    the next call builds from scratch and publishes."""
    import os

    import pytest

    from duckdb_postgis_spark.plans.layout import publish

    for writer in (_write_dir, _write_file):
        path = str(tmp_path / writer.__name__ / "artifact")

        def crash(tmp: str) -> None:
            writer(tmp, "half")
            raise RuntimeError("interrupted")

        with pytest.raises(RuntimeError, match="interrupted"):
            publish(path, crash)
        assert os.listdir(os.path.dirname(path)) == []
        assert publish(path, lambda tmp: writer(tmp, "full")) is True
        assert _read(path) == "full"
        assert os.listdir(os.path.dirname(path)) == ["artifact"]


def test_publish_existing_path_skips_build(tmp_path):
    from duckdb_postgis_spark.plans.layout import publish

    path = str(tmp_path / "artifact")
    _write_dir(path, "old")
    calls = []
    assert publish(path, calls.append) is False
    assert calls == []
    assert _read(path) == "old"


def test_publish_concurrent_winner_keeps_its_copy(tmp_path):
    """A concurrent builder publishing first wins: this builder's move
    fails, its temp copy is removed and the winner's content stays."""
    import os

    from duckdb_postgis_spark.plans.layout import publish

    for writer in (_write_dir, _write_file):
        path = str(tmp_path / writer.__name__ / "artifact")

        def racing(tmp: str) -> None:
            writer(path, "winner")
            writer(tmp, "loser")

        assert publish(path, racing) is False
        assert _read(path) == "winner"
        assert not [
            f for f in os.listdir(os.path.dirname(path)) if ".tmp." in f
        ]


def test_publish_racing_threads_publish_one_copy(tmp_path):
    """More builders than cores race on one path, all past the exists
    check before any moves: exactly one publishes, its copy is the one
    left, and no temp sibling survives."""
    import os
    import threading

    from duckdb_postgis_spark.plans.layout import publish

    n = 2 * (os.cpu_count() or 1) + 2
    for writer in (_write_dir, _write_file):
        path = str(tmp_path / writer.__name__ / "artifact")
        gate = threading.Barrier(n, timeout=60)
        won = []

        def race(i: int) -> None:
            def build(tmp: str) -> None:
                writer(tmp, str(i))
                gate.wait()

            if publish(path, build):
                won.append(i)

        threads = [threading.Thread(target=race, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
        assert len(won) == 1, won
        assert _read(path) == str(won[0])
        assert os.listdir(os.path.dirname(path)) == ["artifact"]



def test_second_process_registers_published_table(spark, tmp_path, monkeypatch):
    """What a second process sees: a published table directory with no
    catalog entry, next to another builder's in-flight sibling.
    ensure_tables registers the directory without calling ``build`` or
    launching a Spark job, touches neither directory, and serves the
    original rows from a bucketed scan."""
    import os
    import shutil
    import uuid

    from duckdb_postgis_spark.plans import layout

    root = tmp_path / "layout"
    monkeypatch.setattr(layout, "_LAYOUT_ROOT", str(root))
    t = f"second_process_{uuid.uuid4().hex[:8]}"
    rows = spark.range(40).selectExpr("id AS k", "id * 3 AS v")
    (df,) = layout.ensure_tables(spark, {t: ("k",)}, lambda write: write(rows))
    want = sorted(map(tuple, df.collect()))
    spark.sql(f"DROP TABLE {t}")  # a new session's catalog has no entry
    sibling = root / f"{t}.tmp.{os.getpid() + 1}.0123abcd"
    sibling.mkdir()
    part = next(f for f in os.listdir(root / t) if f.endswith(".parquet"))
    shutil.copy(root / t / part, sibling / part)

    def files() -> dict[str, int]:
        return {
            str(f): f.stat().st_mtime_ns for d in (root / t, sibling) for f in d.iterdir()
        }

    before, calls = files(), []
    sc = spark.sparkContext
    group = "ensure-tables-second-process"
    sc.setJobGroup(group, "ensure_tables")
    try:
        (df,) = layout.ensure_tables(spark, {t: ("k",)}, calls.append)
        _ = df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert calls == []
    assert files() == before
    assert sorted(map(tuple, df.collect())) == want
    p = plan_of(df.groupBy("k").count())
    assert "Bucketed: true" in p and "hashpartitioning(k" not in p, p


def test_write_parts_keeps_a_published_winner(spark, tmp_path):
    """A manifest build that loses the race for a data directory lists
    the winner's parts (same rows) and deletes or rewrites none of them."""
    import os

    from duckdb_postgis_spark.plans.layout import _write_parts

    out = str(tmp_path / "root" / "data" / "add-1")
    df = spark.range(30).toDF("doc_id")
    winner = _write_parts(df, out)

    def files() -> dict[str, int]:
        return {f: os.stat(f"{out}/{f}").st_mtime_ns for f in os.listdir(out)}

    before = files()
    assert _write_parts(df.filter("doc_id < 0"), out) == winner
    assert files() == before
    assert os.listdir(os.path.dirname(out)) == ["add-1"]
    assert spark.read.parquet(*winner).count() == 30

def test_token_tracks_parts_of_directory_tables(tmp_path):
    """A directory-shaped table keys on its parts: rewriting one part in
    place leaves the directory's own stat unchanged (its mtime is
    restored here), yet the token must change.  A file-shaped table keeps
    the ``name:size:mtime_ns`` spelling existing layout names carry."""
    import hashlib
    import os

    from duckdb_postgis_spark.plans.layout import _token

    table = tmp_path / "documents.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    part.write_bytes(b"a" * 64)
    dir_st = os.stat(table)
    before = _token(str(tmp_path), "documents")
    part.write_bytes(b"b" * 128)
    os.utime(table, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    assert os.stat(table).st_mtime_ns == dir_st.st_mtime_ns
    assert _token(str(tmp_path), "documents") != before

    file_table = tmp_path / "orders.parquet"
    file_table.write_bytes(b"x")
    st = os.stat(file_table)
    sig = f"{tmp_path}|orders:{st.st_size}:{st.st_mtime_ns}"
    assert _token(str(tmp_path), "orders") == hashlib.md5(sig.encode()).hexdigest()[:16]


def test_zorder_layout_skips_most_files(spark):
    """The Z-order clustering property itself: each output file's
    (user_id, ts) bounding rectangle is tight, so the query's rectangle
    (users 10-19 x 3 days of 30) overlaps only a minority of files —
    single-dimension sorting cannot bound both dimensions at once."""
    import datetime as dt
    import glob

    import pyarrow.parquet as pq

    from duckdb_postgis_spark.plans.layout import ensure_events_zorder

    path = ensure_events_zorder(spark, "/root/testdata/sf0.01")
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 8, files

    lo_t = dt.datetime(2024, 1, 10)
    hi_t = dt.datetime(2024, 1, 13)
    overlapping = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        stats = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in ("user_id", "ts") and col.statistics:
                    mn, mx = col.statistics.min, col.statistics.max
                    if col.path_in_schema in stats:
                        omn, omx = stats[col.path_in_schema]
                        mn, mx = min(mn, omn), max(mx, omx)
                    stats[col.path_in_schema] = (mn, mx)
        if not stats:
            continue  # empty range partition: zero row groups, no stats
        umin, umax = stats["user_id"]
        tmin, tmax = stats["ts"]
        if isinstance(tmin, dt.datetime) and tmin.tzinfo:
            tmin, tmax = tmin.replace(tzinfo=None), tmax.replace(tzinfo=None)
        if umax >= 10 and umin <= 19 and tmax >= lo_t and tmin < hi_t:
            overlapping += 1
    # rectangle = 1/15 of users x 1/10 of time; Z-order must keep the
    # overlap a minority (observed: ~3-5 of 16). A fully-sorted-by-one-
    # dimension layout overlaps either all user-matching or all
    # time-matching files.
    assert overlapping <= len(files) // 2, (overlapping, len(files))


# --------------------------------------------------------------------------
# R11 merge-on-read delete vectors
# --------------------------------------------------------------------------
def test_delete_vectors_sidecar_not_rewrite(spark, sf_dir):
    """Version 3 must list the SAME data files as version 2 — a delete
    vector is a sidecar, never a rewrite — and the DV dir must exist
    outside the manifest's data-file list."""
    import json

    from duckdb_postgis_spark.plans.layout import ensure_delete_vectors

    root = ensure_delete_vectors(spark, sf_dir)
    with open(f"{root}/manifest-2.json") as fh:
        m2 = json.load(fh)
    with open(f"{root}/manifest-3.json") as fh:
        m3 = json.load(fh)
    assert m3["files"] == m2["files"]
    assert m3["delete_vectors"].startswith(f"{root}/deletes/")
    assert not any(f.startswith(f"{root}/deletes/") for f in m3["files"])


def _doc_ids(df) -> set[int]:
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_delete_vectors_time_travel_isolation(spark, sf_dir):
    """v2 must still see every document (old snapshots cannot see
    younger delete vectors); v3 must drop exactly the doc_id % 7 == 3
    rows and nothing else.  Both memberships come from the predicate
    over the base table, not from another snapshot read."""
    from duckdb_postgis_spark.plans.layout import (
        ensure_delete_vectors,
        read_snapshot,
    )

    root = ensure_delete_vectors(spark, sf_dir)
    every = _doc_ids(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert _doc_ids(read_snapshot(spark, root, 2)) == every
    assert _doc_ids(read_snapshot(spark, root, 3)) == {d for d in every if d % 7 != 3}
    assert any(d % 7 == 3 for d in every)  # the deletes are non-trivial


def test_delete_vectors_read_is_broadcast_anti(spark, sf_dir):
    """The v3 merge-on-read plan must apply the DV as a BROADCAST
    LeftAnti join — O(|deletes|) moved, no exchange of the data side."""
    from duckdb_postgis_spark.plans.layout import (
        ensure_delete_vectors,
        read_snapshot,
    )

    root = ensure_delete_vectors(spark, sf_dir)
    p = plan_of(read_snapshot(spark, root, 3))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    data_side = p[: p.index("BroadcastExchange")]
    assert "hashpartitioning" not in data_side, p


def test_equality_deletes_layered_after_positions(spark, sf_dir):
    """v3 must see the position survivors only, src1 rows included (older
    manifests carry no equality entry); v4 must drop the union of the
    position-deleted rows and the src1 rows.  Both memberships come from
    the predicates over the base table."""
    from duckdb_postgis_spark.plans.layout import (
        ensure_equality_deletes,
        read_snapshot,
    )

    root = ensure_equality_deletes(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    v3 = _doc_ids(read_snapshot(spark, root, 3))
    assert v3 == _doc_ids(survivors)
    src1 = _doc_ids(survivors.filter(F.col("source") == "src1"))
    assert src1 and src1 <= v3  # the equality deletes are non-trivial
    assert _doc_ids(read_snapshot(spark, root, 4)) == v3 - src1


def test_manifest_writes_are_atomic(tmp_path):
    """Every manifest is published: the one JSON writer (``_write_json``)
    builds it on a private sibling and ``publish`` links it onto its path,
    so a reader never sees a partial manifest and an existing one is
    never replaced.  No other commit is left in layout.py: no
    ``os.replace``, no overwrite write, no marker, and ``publish`` is the
    only code that renames or links."""
    import inspect
    import os

    import pytest

    from duckdb_postgis_spark.plans import layout

    root = str(tmp_path)
    layout._commit_version(root, 1, lambda prev: {"files": [*prev["files"], "a"]})
    assert layout._manifest(root, 1) == {"version": 1, "files": ["a"]}
    calls = []
    layout._commit_version(root, 1, lambda prev: calls.append(prev) or {})
    assert calls == [] and layout._manifest(root, 1) == {"version": 1, "files": ["a"]}

    def crash(prev: dict) -> dict:
        raise RuntimeError("interrupted")

    with pytest.raises(RuntimeError, match="interrupted"):
        layout._commit_version(root, 2, crash)
    assert os.listdir(root) == ["manifest-1.json"]
    layout._commit_version(root, 2, lambda prev: {"files": [*prev["files"], "b"]})
    assert layout._manifest(root, 2) == {"version": 2, "files": ["a", "b"]}

    src = inspect.getsource(layout)
    assert src.count("json.dump(") == 1
    assert "json.dump(" in inspect.getsource(layout._write_json)
    for gone in ("os.replace", 'mode("overwrite")', "_BUILD_DONE"):
        assert gone not in src, gone
    commit = inspect.getsource(layout.publish)
    for move in ("os.rename", "os.link"):
        assert src.count(move) == commit.count(move) > 0, move


def test_manifest_pruned_scan_opens_only_matching_files(spark, sf_dir):
    """r13 manifest-stats pruning pins: planning selects files from the
    manifest alone, the scan's inputFiles are exactly the planned
    subset, the skip ratio is real (most files untouched), and the
    planned membership matches an independent footer recomputation."""
    import pyarrow.parquet as pq

    from duckdb_postgis_spark.plans.layout import (
        ensure_manifest_stats_layout,
        manifest_pruned_paths,
    )

    root = ensure_manifest_stats_layout(spark, sf_dir)
    keep, total = manifest_pruned_paths(root, "user_id", 10, 19)
    assert 0 < len(keep) < total, (len(keep), total)
    # 16 range-clustered files; at sf0.001 only 15 distinct users exist so
    # the 10-id range spans ~5 one-user files; at sf0.01+ it fits in 1-2
    assert len(keep) <= 6, (len(keep), total)
    # the executed scan touches exactly the planned files
    df = registry.QUERIES["lakehouse_manifest_pruned_scan"](spark, sf_dir)
    df.collect()
    assert sorted(df.inputFiles()) == sorted(f"file://{p}" for p in keep)
    # manifest bounds agree with the actual parquet footers (membership
    # recomputed from raw data, not trusted from the writer)
    import os as _os

    data_dir = f"{root}/data"
    recomputed = []
    for f in sorted(_os.listdir(data_dir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{data_dir}/{f}").metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema == "user_id":
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if min(mins) <= 19 and max(maxs) >= 10:
            recomputed.append(f"{data_dir}/{f}")
    assert sorted(keep) == recomputed
