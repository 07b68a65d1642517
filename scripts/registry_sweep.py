"""Per-query run records over the registry, in the bench session.

For each named query (default: every registered query) the sweep builds,
plans and runs the query in one ``session.bench_conf`` session on the scan
layout of ``SPARK_GRAFT_SF_DIR`` and writes one JSON record:

- ``build_ms``: ``fn(spark, sf_dir)``, the DSL build with its py4j round
  trips and any ``ensure_*`` layout probes (a live stream query replays
  its stream here)
- ``plan_ms``: ``executedPlan()`` of the built frame (analysis,
  optimization, physical planning)
- ``exec_ms``: the action, through the noop sink so the computation is
  timed and not the result transfer
- ``jobs``: Spark jobs the action launched, from ``statusTracker`` on a
  job group named after the query
- plan-tree counts of the executed plan: ``scans`` (parquet),
  ``py_nodes`` (Python-worker boundary), ``reused_exchanges``,
  ``exchanges`` (shuffles), ``nested_loop_joins`` (BNLJ/Cartesian)
- ``batches``: each micro-batch's ``durationMs`` and ``stateOperators``,
  from a ``StreamingQueryListener`` (empty for a batch query)

Times are the median of ``--reps`` runs after one discarded warm run;
counts and batches are the last run's.

Usage:
    python scripts/registry_sweep.py [out.json] [--reps N] [--names a,b,...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics as st
import sys
import time
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# Python workers import the package too, from whatever directory the
# script runs in: they inherit PYTHONPATH when the JVM starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [_ROOT, os.environ.get("PYTHONPATH")])
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: plan-tree node patterns, counted over the operator tree of
#: ``explain("formatted")`` (the lines before its detail section)
_PLAN_COUNTS = {
    "scans": re.compile(r"Scan parquet"),
    "py_nodes": re.compile(
        r"ArrowEvalPython|FlatMapCoGroupsInPandas|MapInPandas|"
        r"FlatMapGroupsInPandas|BatchEvalPython|MapInArrow"
    ),
    "reused_exchanges": re.compile(r"ReusedExchange"),
    "exchanges": re.compile(r"\bExchange\b"),
    "nested_loop_joins": re.compile(r"BroadcastNestedLoopJoin|CartesianProduct"),
}


def plan_counts(df) -> dict[str, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n", 1)[0]
    return {k: len(pat.findall(tree)) for k, pat in _PLAN_COUNTS.items()}


def batch_listener(spark) -> list[dict]:
    """Attach a listener that appends each micro-batch's durations and
    state-operator figures to the returned list."""
    from pyspark.sql.streaming import StreamingQueryListener

    batches: list[dict] = []

    class Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            batches.append({k: p.get(k) for k in ("durationMs", "stateOperators")})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Keep())
    return batches


def run_once(spark, fn, sf_dir: str, name: str, batches: list[dict]) -> dict:
    """Build, plan and run one query; its record."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    batches.clear()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    before = set(tracker.getJobIdsForGroup(name))
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    # progress events reach the listener on the listener bus's own thread
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "build_ms": (t1 - t0) * 1000,
        "plan_ms": (t2 - t1) * 1000,
        "exec_ms": (t3 - t2) * 1000,
        "jobs": len(set(tracker.getJobIdsForGroup(name)) - before),
        **plan_counts(df),
        "batches": list(batches),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", default="/tmp/registry_sweep.json")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--names", help="comma-separated query names (default: all)")
    opts = ap.parse_args()

    from duckdb_postgis_spark import registry
    from duckdb_postgis_spark.catalog import ensure_scan_layout
    from duckdb_postgis_spark.session import bench_conf, get_spark

    opt_dir, _ = ensure_scan_layout(SF_DIR)
    spark = get_spark("registry-sweep", f"local[{CPUS}]", conf=bench_conf(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    batches = batch_listener(spark)

    queries = registry.all_queries()
    names = opts.names.split(",") if opts.names else sorted(queries)
    results: dict[str, dict] = {}
    for idx, name in enumerate(names, 1):
        spark.sparkContext.setJobGroup(name, f"sweep:{name}")
        try:
            run_once(spark, queries[name], opt_dir, name, batches)
            runs = [
                run_once(spark, queries[name], opt_dir, name, batches)
                for _ in range(opts.reps)
            ]
            rec = dict(runs[-1])
            for k in ("build_ms", "plan_ms", "exec_ms"):
                rec[k] = round(st.median(r[k] for r in runs), 1)
            rec["jobs"] = st.median_low(r["jobs"] for r in runs)
            results[name] = rec
            print(
                f"[{idx}/{len(names)}] {name}: build {rec['build_ms']} ms, "
                f"plan {rec['plan_ms']} ms, exec {rec['exec_ms']} ms, "
                f"{rec['jobs']} jobs",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            results[name] = {"error": f"{type(exc).__name__}: {exc}"}
            print(f"[{idx}/{len(names)}] {name}: ERROR {exc}", flush=True)
            traceback.print_exc(limit=6)

    def total_ms(rec: dict) -> float:
        return sum(rec.get(k, 0.0) for k in ("build_ms", "plan_ms", "exec_ms"))

    ranked = dict(sorted(results.items(), key=lambda kv: -total_ms(kv[1])))
    with open(opts.out, "w") as fh:
        json.dump(
            {"sf_dir": opt_dir, "cpus": CPUS, "reps": opts.reps, "queries": ranked},
            fh,
            indent=1,
        )
        fh.write("\n")
    errs = [k for k, v in results.items() if "error" in v]
    total = sum(map(total_ms, results.values())) / 1000
    print(f"TOTAL {total:.1f}s over {len(names)} queries; errors: {errs}")
    spark.stop()
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
