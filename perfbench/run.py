#!/usr/bin/env python3
"""Benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

One run = one workload in one fresh process, closed loop (one client, one
driver thread, ``local[nproc]``):

1. Write the seeded inputs under ``.perfbench/`` in the checkout (untimed).
2. Set up three times, each from a stopped session and an empty derived-state
   directory: ``session.get_spark`` -> ``catalog.ensure_scan_layout`` ->
   register every table.  The first set-up also pays the imports and the JVM
   launch.  ``setup_s`` is the median of the three.
3. One untimed warm-up pass over the op list, then the drift probes.
4. Timed passes, each over the op list in a seed-shuffled order, until
   ``--seconds`` have passed (at least two passes).  With ``--trace 1``
   traced and plain passes alternate, traced first.
5. Check every op's output: query ops against their DuckDB oracle twin
   (``registry.ORACLES``), geo files against the generator's truth.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full report (drift probes, isolation policy,
sample counts).  ``perfbench/README.md`` describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from tracing import (  # noqa: E402 - needs the sys.path entry above
    Spans,
    parse_event_log,
    progress_listener,
    streaming_totals,
    unwrap_pipeline,
    wrap_pipeline,
)

QUERY_MIX = [
    "pricing_summary",
    "join_broadcast_4way",
    "window_rank_topn",
    "sort_limit_topk",
    "agg_distinct",
    "stream_tumbling",
    "text_stats",
    "knn_cosine_topk",
    "dedup_minhash_lsh",
    "pipeline_training_e2e",
    "events_ewma_trailing",
    "sample_hard_negative_mining",
    "graph_pagerank_bipartite",
]
LLM_BATCH = [
    "dedup_embedding_cosine",
    "similarity_search_ivf_pruned",
    "embed_pca_power_iteration",
    "multimodal_image_features",
    "text_bm25_search",
]
STREAM_REPLAY = [
    "stream_tumbling_live",
    "stream_session_live",
    "stream_dedup_live",
    "stream_stream_join",
]
#: stands for every file of the seeded geo corpus, each run through
#: ``pipeline.process_file`` and written to a parquet sink
GEO = "<geo corpus>"
#: the stream replay that rides along with the geo corpus in ``ingest``
INGEST_STREAMS = ["stream_tumbling_live"]
#: workload -> ops: registered query names, or GEO.  BENCHMARK.json lists
#: query_mix and ingest; llm_batch and stream_replay run by hand (they do
#: not fit a 48-run sweep's time budget next to the other two).
WORKLOADS = {
    "query_mix": QUERY_MIX,
    "ingest": [GEO] + INGEST_STREAMS,
    "llm_batch": LLM_BATCH,
    "stream_replay": STREAM_REPLAY,
}
GEO_KINDS = [
    "bng_csv", "lonlat_csv", "wkb_parquet", "geojson",
    "shapefile", "gpkg", "plain_csv", "small_csv",
]
SETUPS = 3
#: untimed passes before timing.  The first timed pass still runs 10-15%
#: slower than the second while the JIT compiles; a second warm-up pass would
#: take the time the second timed pass needs (host load moves pass times by up
#: to 40% within a minute, so the timed window is what steadies the figures)
WARMUP_PASSES = 1
#: timed passes run until --seconds have passed and at least this many: with
#: a fixed count the slower first pass weighs the same in every run
MIN_TIMED_PASSES = 2
#: small geo files in the warm-up pass: they share one code path
WARMUP_SMALL_FILES = 3
COORD_TOL_DEG = 1e-6

#: per-layer metric name -> unit, in BENCHMARK.json order
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.layout_s": "s",
    "registry.build_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec.run_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "fetch.rows": "count",
    "fetch.bytes": "bytes",
    "pyboundary.sent_mb": "MB",
    "pyboundary.recv_mb": "MB",
    "pyboundary.run_s": "s",
    "pyboundary.boot_s": "s",
    "pyboundary.rows": "count",
    "sources.sniff_ms": "ms",
    "sources.read_ms": "ms",
    "functions.detect_ms": "ms",
    "pipeline.crs_ms": "ms",
    "pipeline.transform_ms": "ms",
    "sink.write_ms": "ms",
    "pipeline.probe_jobs": "count",
    "sink.bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.planning_ms": "ms",
    "trace.overhead_s": "s",
    "driver.peak_rss_mb": "MB",
}
for _op in QUERY_MIX + INGEST_STREAMS + [f"geo_{k}" for k in GEO_KINDS]:
    LAYER_UNITS[f"op.{_op}.ms"] = "ms"
MB = 1024.0 * 1024.0


# --------------------------------------------------------------------------
# run isolation
# --------------------------------------------------------------------------
def isolate(work: Path, trace: bool) -> dict:
    """Point every directory the engine and Spark write to inside ``work``
    and pin the core count, so every run starts from the same state.
    Must run before pyspark is imported.  Returns the policy for the report."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: work / k for k in ("tmp", "local", "warehouse", "layout", "ckpt", "events")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for key in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(key, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_STREAM_CKPT_DIR": str(dirs["ckpt"]),
        "SPARK_LOCAL_DIRS": str(dirs["local"]),
        "TMPDIR": str(dirs["tmp"]),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    tempfile.tempdir = None
    confs = {
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{dirs['events']}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # read by every JVM, the launcher included: no temp or hsperfdata files
    # outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"]
    )
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "run_dir": str(work.relative_to(ROOT)),
        "fresh_per_run": sorted(dirs),
        "derived_state": "catalog/plans layout roots redirected to run_dir/layout, emptied before each set-up",
        "spark_confs": confs,
        "env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


def redirect_layout_roots(layout_root: Path) -> None:
    """Send the engine's derived-state caches (scan layouts, index tables,
    e2e inputs) to the run directory instead of the shared default."""
    from duckdb_postgis_spark import catalog
    from duckdb_postgis_spark.plans import layout

    catalog._SCAN_LAYOUT_ROOT = str(layout_root / "scan")
    layout._LAYOUT_ROOT = str(layout_root)


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------
def _norm(v):
    import datetime as dt
    from decimal import Decimal

    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else round(v, 9) + 0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalized, rows sorted."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha1(repr([cols[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def arrow_hash(tbl) -> str:
    cols = tbl.column_names
    return result_hash(cols, list(zip(*[tbl.column(c).to_pylist() for c in cols])))


def oracle_hashes(names: list[str], data_dir: Path) -> dict[str, str]:
    """Hash of each query's DuckDB twin over the same generated tables."""
    import duckdb

    from duckdb_postgis_spark import registry
    from duckdb_postgis_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            sql = registry.ORACLES.get(name)
            if sql is None:
                continue
            cur = con.execute(sql)
            out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


_FIRST_XY = re.compile(r"\(+\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)")


def check_geo(res, truth: dict, sink: Path) -> str | None:
    """Compare a process_file verdict and its written output with the
    generator's truth; returns a reason on mismatch, else None."""
    import pyarrow.parquet as pq

    got = (res.file_type, list(res.geom_columns), res.source_crs)
    want = (truth["file_type"], truth["geom_columns"], truth["crs"])
    if got != want:
        return f"verdict {got} != {want}"
    tbl = pq.read_table(str(sink))
    if tbl.num_rows != truth["rows"]:
        return f"rows {tbl.num_rows} != {truth['rows']}"
    if not truth["samples"]:
        return None
    id_col = "fid" if "fid" in tbl.column_names else "id"
    wkt_col = f"{truth['geom_columns'][0]}_wkt"
    wkts = dict(zip(map(str, tbl.column(id_col).to_pylist()), tbl.column(wkt_col).to_pylist()))
    for key, (lon, lat) in truth["samples"].items():
        m = _FIRST_XY.search(wkts.get(key) or "")
        if m is None:
            return f"id {key}: no coordinates in {wkts.get(key)!r}"
        x, y = float(m.group(1)), float(m.group(2))
        if abs(x - lon) > COORD_TOL_DEG or abs(y - lat) > COORD_TOL_DEG:
            return f"id {key}: ({x}, {y}) != ({lon}, {lat})"
    return None


# --------------------------------------------------------------------------
# process memory and drift probes
# --------------------------------------------------------------------------
def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def peak_rss_mb(gateway_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python driver, in MB."""
    jvm = 0
    for p in _descendants(gateway_pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm += _vm_hwm_kb(p)
        except OSError:
            pass
    return (jvm + _vm_hwm_kb("self")) / 1024.0


def drift_probes(spark, data_dir: str) -> dict:
    """ROADMAP aim 1's drift check, measured as ``bench.py`` measures it:
    a no-op plan round trip, and a lineitem scan+sum minus its plan time."""
    from pyspark.sql import functions as F

    noop = spark.range(1).selectExpr("id")

    def scan():
        return spark.read.parquet(f"{data_dir}/lineitem.parquet").agg(F.sum("l_extendedprice"))

    def timed(fn, reps):
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return out

    timed(noop.toArrow, 2)
    floor_noop = statistics.median(timed(noop.toArrow, 5))
    timed(lambda: scan().toArrow(), 1)
    plan = min(timed(lambda: scan()._jdf.queryExecution().executedPlan(), 3))
    run = statistics.median(timed(lambda: scan().toArrow(), 5))
    return {"floor_noop_ms": floor_noop * 1e3, "floor_scan_ms": max(run - plan, 0.0) * 1e3}


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------
class Bench:
    def __init__(self, args, work: Path, policy: dict):
        self.args = args
        self.work = work
        self.policy = policy
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.spark = None
        self.data_dir = work / "data"
        self.layout_root = work / "layout"
        self.scan_dir = ""
        self.geo_truth: list[dict] = []
        self.setups: list[dict] = []
        self.samples: list[dict] = []  # one per op run
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}
        self.spans = None  # tracing state, --trace 1 only
        self.listener = None
        self.progress: list[dict] = []

    # -- inputs -----------------------------------------------------------
    def make_inputs(self) -> None:
        import datagen

        datagen.write_tables(str(self.data_dir), self.args.seed)
        if GEO in WORKLOADS[self.args.workload]:
            self.geo_truth = datagen.write_geo_corpus(str(self.work / "geo"), self.args.seed)

    # -- set-up -----------------------------------------------------------
    def setup(self, t0: float | None = None) -> None:
        """One set-up, timed from ``t0`` (default: after stopping the
        previous session, which no user set-up pays)."""
        from duckdb_postgis_spark import catalog, registry, session

        if self.spark is not None:
            self.spark.stop()
        if t0 is None:
            t0 = time.perf_counter()
        registry.load_all()
        redirect_layout_roots(self.layout_root)
        shutil.rmtree(self.layout_root, ignore_errors=True)
        t1 = time.perf_counter()
        self.spark = session.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.scan_dir, _ = catalog.ensure_scan_layout(str(self.data_dir))
        t3 = time.perf_counter()
        for df in catalog.load_tables(self.spark, self.scan_dir).values():
            df.schema  # noqa: B018 - forces the read + footer fetch
        t4 = time.perf_counter()
        self.setups.append({
            "setup_s": t4 - t0,
            "session.start_s": t2 - t1,
            "catalog.layout_s": t3 - t2,
            "register_s": t4 - t3,
        })

    # -- ops --------------------------------------------------------------
    def ops(self, small_files: int | None = None) -> list[tuple[str, str, str, object]]:
        """(op name, instance, kind, argument) for every op of one pass; the
        small geo files share one op name, each is its own instance.  With
        ``small_files`` only that many small geo files are in the pass."""
        out = []
        for name in WORKLOADS[self.args.workload]:
            if name == GEO:
                small = [t for t in self.geo_truth if t["kind"] == "small_csv"][:small_files]
                out += [(f"geo_{t['kind']}", Path(t["path"]).name, "geo", t)
                        for t in self.geo_truth if t["kind"] != "small_csv" or t in small]
            else:
                out.append((name, name, "query", name))
        return out

    def run_query(self, name: str, traced: bool) -> dict:
        from duckdb_postgis_spark import registry

        fn = registry.QUERIES[name]
        sc = self.spark.sparkContext
        if not traced:
            t0 = time.perf_counter()
            tbl = fn(self.spark, self.scan_dir).toArrow()
            return {"ms": (time.perf_counter() - t0) * 1e3, "result": tbl}
        sc.setJobGroup(f"p{self.spans.pass_no}:{name}", name)
        w0 = time.time()
        t0 = time.perf_counter()
        df = fn(self.spark, self.scan_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        tbl = df.toArrow()
        t3 = time.perf_counter()
        self.spans.add("registry.build_ms", w0, w0 + (t1 - t0))
        self.spans.add("catalyst.plan_ms", w0 + (t1 - t0), w0 + (t2 - t0))
        self.spans.add("exec.run_ms", w0 + (t2 - t0), w0 + (t3 - t0))
        sc.setJobGroup("perfbench", "between ops")
        return {
            "ms": (t3 - t0) * 1e3, "result": tbl,
            "fetch.rows": tbl.num_rows, "fetch.bytes": tbl.nbytes,
        }

    def run_geo(self, name: str, truth: dict, traced: bool) -> dict:
        from duckdb_postgis_spark import pipeline

        sink = self.work / "sink" / name
        if traced:
            self.spark.sparkContext.setJobGroup(f"p{self.spans.pass_no}:{name}", name)
        w0 = time.time()
        t0 = time.perf_counter()
        res = pipeline.process_file(self.spark, truth["path"])
        t1 = time.perf_counter()
        res.dataframe.write.mode("overwrite").parquet(str(sink))
        t2 = time.perf_counter()
        out = {"ms": (t2 - t0) * 1e3, "res": res, "sink": sink}
        if traced:
            self.spans.add("sink.write_ms", w0 + (t1 - t0), w0 + (t2 - t0))
            out["probe_window"] = (w0, w0 + (t1 - t0))
            out["sink_bytes"] = sum(f.stat().st_size for f in sink.iterdir() if f.is_file())
            out["in_bytes"] = truth["in_bytes"]
        return out

    def run_pass(self, label: str, traced: bool) -> None:
        from duckdb_postgis_spark import pipeline

        wrapped = None
        if traced:
            self.spans.pass_no = len(self.passes)
            if self.geo_truth:
                wrapped = wrap_pipeline(pipeline, self.spans)
        ops = self.ops(WARMUP_SMALL_FILES if label == "warmup" else None)
        self.rng.shuffle(ops)
        w0 = time.time()
        total_ms = 0.0
        for name, inst, kind, arg in ops:
            if traced:
                self.spans.op = name
            try:
                if kind == "geo":
                    out = self.run_geo(name, arg, traced)
                    check = check_geo(out["res"], arg, out["sink"])
                else:
                    out = self.run_query(arg, traced)
                    check = arrow_hash(out["result"])
            except Exception:  # one failed op must not end the run
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{label}:{name}: raised")
                self.samples.append({"pass": len(self.passes), "label": label, "op": name,
                                     "inst": inst, "kind": kind, "ok": False})
                continue
            total_ms += out["ms"]
            self.samples.append({"pass": len(self.passes), "label": label, "op": name, "inst": inst, "kind": kind, **{
                k: v for k, v in out.items() if k not in ("result", "res", "sink")
            }, "check": check})
        if wrapped is not None:
            unwrap_pipeline(pipeline, wrapped)
        self.passes.append(
            {"label": label, "traced": traced, "pass_s": total_ms / 1e3, "window": (w0, time.time())}
        )

    # -- checks -----------------------------------------------------------
    def verify(self) -> int:
        """Compare every op run with its reference; returns the failure count.
        Query ops: the DuckDB twin's hash, or without a twin the first run's
        hash.  Geo ops: the verdict ``check_geo`` returned (None = as expected)."""
        want = oracle_hashes([n for n in WORKLOADS[self.args.workload] if n != GEO], self.data_dir)
        for s in self.samples:
            if "check" not in s:
                continue
            if s["kind"] == "geo":
                s["ok"] = s["check"] is None
                reason = s["check"]
            else:
                ref = want.setdefault(s["op"], s["check"])
                s["ok"] = s["check"] == ref
                reason = f"hash {s['check']} != {ref}"
            if not s["ok"]:
                self.failures.append(f"{s['label']}:{s['op']}: {reason}")
        return sum(1 for s in self.samples if not s["ok"])

    # -- main sequence ------------------------------------------------------
    def run(self, t_start: float) -> dict:
        self.setup(t_start)
        for _ in range(SETUPS - 1):
            self.setup()
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.run_pass("warmup", traced=False)
        t1 = time.perf_counter()
        drift = drift_probes(self.spark, self.scan_dir)
        self.phases = {"warmup_s": t1 - t0, "drift_s": time.perf_counter() - t1}
        if self.trace:
            self.spans = Spans()
            self.listener, self.progress = progress_listener(self.spark)
        deadline = time.perf_counter() + self.args.seconds
        n_timed = 0
        while True:
            # traced and plain passes alternate, traced first: later passes
            # run warmer, so the overhead estimate errs high, not low
            self.run_pass("timed", self.trace and n_timed % 2 == 0)
            n_timed += 1
            if time.perf_counter() >= deadline and n_timed >= MIN_TIMED_PASSES:
                break
        sc = self.spark.sparkContext
        rss = peak_rss_mb(sc._gateway.proc.pid)
        app_id = sc.applicationId
        if self.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
        t0 = time.perf_counter()
        self.spark.stop()
        failed = self.verify()
        self.phases["stop_verify_s"] = time.perf_counter() - t0
        return self.summarize(drift, rss, app_id, failed)

    def summarize(self, drift: dict, rss: float, app_id: str, failed: int) -> dict:
        timed = [p for p in self.passes if p["label"] == "timed"]
        plain = [p["pass_s"] for p in timed if not p["traced"]]
        timed_ids = {i for i, p in enumerate(self.passes) if p["label"] == "timed" and not p["traced"]}
        by_inst = self.op_medians(timed_ids, "inst")
        # latency samples: the small geo files when the workload has them
        lat = sorted(s["ms"] for s in self.samples if s["pass"] in timed_ids and "ms" in s
                     and (not self.geo_truth or s["op"] == "geo_small_csv"))
        e2e = {
            "setup_s": statistics.median(s["setup_s"] for s in self.setups),
            # per-op medians over the passes, summed: one slow op in one
            # pass does not move it
            "pass_s": sum(by_inst.values()) / 1e3,
            # homogeneous small-file samples: their median, which a burst of
            # host load in part of the pass does not move; the distinct
            # queries: the geometric mean of their medians
            "op_latency_ms": statistics.median(lat) if self.geo_truth
            else statistics.geometric_mean(by_inst.values()),
        }
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "timed_passes": len(plain),
            "op_samples": len(lat),
            "pass_s_all": plain,
            "op_ms": self.op_medians(timed_ids, "op"),
            "op_p50_ms": statistics.median(lat),
            "peak_rss_mb": rss,
            "setups": self.setups,
            "drift": drift,
            "phases": self.phases,
            "isolation": self.policy,
            "failures": self.failures[:20],
            **e2e,
        }
        # the tail percentile, only when >= 10 samples lie beyond it
        if len(lat) >= 100:
            report["op_p90_ms"] = lat[int(0.9 * len(lat))]
        if self.geo_truth:
            bulk_rows = sum(t["rows"] for t in self.geo_truth if t["kind"] != "small_csv")
            bulk_ms = [
                sum(s["ms"] for s in self.samples if s["pass"] == i and s["kind"] == "geo"
                    and s["op"] != "geo_small_csv" and "ms" in s)
                for i in timed_ids
            ]
            report["bulk_rows_per_s"] = bulk_rows / (statistics.median(bulk_ms) / 1e3)
        out = {"e2e": e2e, "report": report, "failed": failed,
               "attempted": len(self.samples),
               "samples": [{k: s.get(k) for k in ("pass", "label", "op", "inst", "ms", "ok")}
                           for s in self.samples]}
        if self.trace:
            out["layers"] = self.layers(app_id, timed, rss)
        return out

    def layers(self, app_id: str, timed: list[dict], rss: float) -> dict:
        """Per-layer metrics from the traced passes; per pass unless noted."""
        traced = [p for p in timed if p["traced"]]
        n = len(traced)
        windows = [p["window"] for p in traced]
        ids = {i for i, p in enumerate(self.passes) if p in traced}
        m = {k: 0.0 for k in LAYER_UNITS}
        m["session.start_s"] = statistics.median(s["session.start_s"] for s in self.setups)
        m["catalog.layout_s"] = statistics.median(s["catalog.layout_s"] for s in self.setups)
        for layer, ms in self.spans.layer_ms(ids).items():
            m[layer] = ms / n
        ev = parse_event_log(str(self.work / "events" / app_id), windows)
        for key, name in (("jobs", "exec.jobs"), ("stages", "exec.stages"), ("tasks", "exec.tasks"),
                          ("task_s", "exec.task_s"), ("cpu_s", "exec.cpu_s"), ("gc_s", "exec.gc_s"),
                          ("py_rows", "pyboundary.rows")):
            m[name] = ev.get(key, 0.0) / n
        for key, name in (("input_b", "exec.input_mb"), ("shuffle_write_b", "exec.shuffle_write_mb"),
                          ("shuffle_read_b", "exec.shuffle_read_mb"), ("spill_b", "exec.spill_mb"),
                          ("py_sent_b", "pyboundary.sent_mb"), ("py_recv_b", "pyboundary.recv_mb")):
            m[name] = ev.get(key, 0.0) / MB / n
        m["pyboundary.run_s"] = ev.get("py_run_ms", 0.0) / 1e3 / n
        m["pyboundary.boot_s"] = ev.get("py_boot_ms", 0.0) / 1e3  # per session
        runs = [s for s in self.samples if s["pass"] in ids and "ms" in s]
        m["fetch.rows"] = sum(s.get("fetch.rows", 0) for s in runs) / n
        m["fetch.bytes"] = sum(s.get("fetch.bytes", 0) for s in runs) / n
        files = [s for s in runs if s["kind"] == "geo"]
        if files:
            probes = [s["probe_window"] for s in files]
            probe_jobs = parse_event_log(str(self.work / "events" / app_id), probes)["jobs"]
            m["pipeline.probe_jobs"] = probe_jobs / len(files)
            m["sink.bytes_per_input_byte"] = sum(s["sink_bytes"] for s in files) / sum(s["in_bytes"] for s in files)
        st = streaming_totals(self.progress, windows)
        for key in ("batches", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                    "state_commit_ms", "state_rows", "planning_ms"):
            m[f"streaming.{key}"] = st.get(key, 0.0) / n
        m["streaming.state_mem_mb"] = st.get("state_mem_b", 0.0) / MB
        plain = [p["pass_s"] for p in timed if not p["traced"]]
        m["trace.overhead_s"] = statistics.median(p["pass_s"] for p in traced) - statistics.median(plain)
        plain_ids = {i for i, p in enumerate(self.passes) if p in timed and not p["traced"]}
        for op, ms in self.op_medians(plain_ids, "op").items():
            m[f"op.{op}.ms"] = ms
        m["driver.peak_rss_mb"] = rss
        return m

    def op_medians(self, pass_ids: set[int], key: str) -> dict[str, float]:
        """Median latency (ms) over the passes ``pass_ids``, per op name
        (``key="op"``) or per op instance (``key="inst"``)."""
        by_op: dict[str, list[float]] = {}
        for s in self.samples:
            if s["pass"] in pass_ids and "ms" in s:
                by_op.setdefault(s[key], []).append(s["ms"])
        return {op: statistics.median(v) for op, v in by_op.items()}


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_latency_ms": "ms"}


def stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_proc = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "duckdb_postgis_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    policy = isolate(work, bool(args.trace))
    bench = Bench(args, work, policy)
    try:
        t_gen = time.perf_counter()
        bench.make_inputs()
        gen_s = time.perf_counter() - t_gen
        # set-up is timed from process start, minus input generation
        out = bench.run(t_start=t_proc + gen_s)
    finally:
        if bench.spark is not None:
            stop_gateway()
        spans = bench.spans.dump() if bench.spans else []
        shutil.rmtree(work, ignore_errors=True)

    report = out["report"]
    report["input_gen_s"] = gen_s
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(
        {"report": report, "layers": out.get("layers"), "samples": out["samples"], "spans": spans},
        indent=1, default=str,
    ))
    if args.trace:
        metrics = {k: {"value": out["layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": out["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
