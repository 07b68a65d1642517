"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here attaches from outside the engine:

- ``Spans``: wall-clock spans recorded around calls into the engine's public
  functions, kept in memory and written out when the run ends.
- ``wrap_pipeline``: wrappers around the module-level names that
  ``pipeline.process_file`` resolves, so each step of a file's lifecycle is
  timed without copying ``process_file``'s control flow.
- ``parse_event_log``: Spark's JSON-lines event log, read with the stdlib,
  summed per time window (job, stage, task and Python-worker metrics).
- ``progress_listener``: a ``StreamingQueryListener`` that keeps every
  micro-batch's ``StreamingQueryProgress``.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
from collections import defaultdict

#: pipeline module name -> layer it belongs to
PIPELINE_LAYERS = {
    "determine_file_type": "sources.sniff_ms",
    "read_file": "sources.read_ms",
    "find_geometry_columns": "functions.detect_ms",
    "find_coordinate_pair": "functions.detect_ms",
    "metadata_crs": "pipeline.crs_ms",
    "infer_crs_from_xy": "pipeline.crs_ms",
    "infer_crs_from_geometry": "pipeline.crs_ms",
    "synthesize_point_wkt": "pipeline.transform_ms",
    "transform_geom_columns": "pipeline.transform_ms",
}

#: SQL metric names Spark 4.1 gives the Arrow/Python exec nodes
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_ROWS = "number of output rows"


class Spans:
    """In-memory spans: (pass, op, layer, start, end) in wall-clock seconds."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self.pass_no = -1
        self.op = ""

    def add(self, layer: str, start: float, end: float) -> None:
        self.rows.append((self.pass_no, self.op, layer, start, end))

    def layer_ms(self, passes: set[int]) -> dict[str, float]:
        """Total milliseconds per layer over ``passes``."""
        out: dict[str, float] = defaultdict(float)
        for p, _op, layer, t0, t1 in self.rows:
            if p in passes:
                out[layer] += (t1 - t0) * 1000.0
        return out

    def dump(self) -> list[dict]:
        return [
            {"pass": p, "op": op, "layer": layer, "start": t0, "end": t1}
            for p, op, layer, t0, t1 in self.rows
        ]


def wrap_pipeline(pipeline_module, spans: Spans) -> dict:
    """Replace the pipeline module's step functions with timed wrappers;
    returns the originals for ``unwrap_pipeline``."""
    originals = {name: getattr(pipeline_module, name) for name in PIPELINE_LAYERS}

    def timed(fn, layer):
        def inner(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.add(layer, t0, time.time())

        return inner

    for name, layer in PIPELINE_LAYERS.items():
        setattr(pipeline_module, name, timed(originals[name], layer))
    return originals


def unwrap_pipeline(pipeline_module, originals: dict) -> None:
    for name, fn in originals.items():
        setattr(pipeline_module, name, fn)


def _in(windows: list[tuple[float, float]], t: float) -> bool:
    return any(a <= t <= b for a, b in windows)


def _python_row_accums(plan: dict, out: set[int]) -> None:
    """Collect the ``number of output rows`` accumulator ids of every plan
    node that also reports Python-worker traffic."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in metrics and _PY_ROWS in metrics:
        out.add(metrics[_PY_ROWS])
    for child in plan.get("children", []):
        _python_row_accums(child, out)


def parse_event_log(path: str, windows: list[tuple[float, float]]) -> dict:
    """Sum the jobs submitted inside ``windows`` (wall-clock seconds).

    Returns counts and totals: jobs, stages, tasks, task/cpu/gc seconds,
    input/shuffle/spill bytes and the Python-worker SQL metrics.  Python
    workers start once per session and are reused, so ``py_boot_ms`` covers
    every task of the log, not only those inside ``windows``."""
    jobs = 0
    stage_in: set[int] = set()
    py_row_ids: set[int] = set()
    tot: dict[str, float] = defaultdict(float)
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if _in(windows, ev["Submission Time"] / 1000.0):
                    jobs += 1
                    stage_in.update(s["Stage ID"] for s in ev["Stage Infos"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_row_accums(ev.get("sparkPlanInfo", {}), py_row_ids)
    n_tasks = 0
    ran: set[int] = set()
    for ev in tasks:
        for acc in ev["Task Info"].get("Accumulables", []):
            if acc.get("Name") == _PY_BOOT and acc.get("Update") is not None:
                tot["py_boot_ms"] += float(acc["Update"])
        if ev["Stage ID"] not in stage_in:
            continue
        ran.add(ev["Stage ID"])
        n_tasks += 1
        tm = ev.get("Task Metrics") or {}
        tot["task_s"] += tm.get("Executor Run Time", 0) / 1e3
        tot["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        tot["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        tot["input_b"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        tot["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["shuffle_write_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        tot["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        for acc in ev["Task Info"].get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            if name == _PY_SENT:
                tot["py_sent_b"] += float(upd)
            elif name == _PY_RECV:
                tot["py_recv_b"] += float(upd)
            elif name == _PY_RUN:
                tot["py_run_ms"] += float(upd)
            elif name == _PY_ROWS and acc.get("ID") in py_row_ids:
                tot["py_rows"] += float(upd)
    # stages that ran tasks: adaptive execution skips some planned ones
    return {"jobs": jobs, "stages": len(ran), "tasks": n_tasks, **tot}


def progress_listener(spark):
    """Attach a listener keeping each micro-batch's progress as a dict;
    returns (listener, list of progress dicts)."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list[dict] = []
    lock = threading.Lock()

    class Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with lock:
                seen.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Keep()
    spark.streams.addListener(listener)
    return listener, seen


def progress_time(progress: dict) -> float:
    """Wall-clock seconds of a progress record's trigger start."""
    ts = progress["timestamp"].replace("Z", "+00:00")
    return dt.datetime.fromisoformat(ts).timestamp()


def streaming_totals(progress: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Sum micro-batch durations and state-store figures inside ``windows``."""
    tot: dict[str, float] = defaultdict(float)
    for p in progress:
        if not _in(windows, progress_time(p)):
            continue
        d = p.get("durationMs", {})
        tot["batches"] += 1
        tot["add_batch_ms"] += d.get("addBatch", 0)
        tot["wal_commit_ms"] += d.get("walCommit", 0)
        tot["commit_offsets_ms"] += d.get("commitOffsets", 0)
        tot["planning_ms"] += d.get("queryPlanning", 0)
        for st in p.get("stateOperators", []):
            tot["state_commit_ms"] += st.get("commitTimeMs", 0)
            tot["state_rows"] += st.get("numRowsUpdated", 0)
            tot["state_mem_b"] = max(tot["state_mem_b"], st.get("memoryUsedBytes", 0))
    return tot
