"""Full-registry per-query timing sweep at sf0.1 (r13 optimization round).

Times EVERY registered query once-warm / median-of-reps in the exact bench
session (same confs as bench.py's make_session, same optimized scan
layout), using the noop sink (guide §1.4) so the computation is timed, not
the Arrow result transfer.  Output: one JSON file ranking queries by
median execution seconds, so the optimization round targets the measured
tail instead of guessing.

Usage:
    python scripts/registry_sweep.py [out.json] [--reps N] [--names a,b,...]
"""

from __future__ import annotations

import json
import os
import statistics as st
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_path = "/tmp/registry_sweep.json"
    reps = 3
    names_filter = None
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--names":
            names_filter = args[i + 1].split(",")
            i += 2
        else:
            out_path = args[i]
            i += 1

    from pyspark.sql import SparkSession

    from duckdb_postgis_spark import registry
    from duckdb_postgis_spark.catalog import ensure_scan_layout

    opt_dir, _ = ensure_scan_layout(SF_DIR)

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("registry-sweep")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "1048576")
        .config("spark.sql.files.openCostInBytes", "32768")
        .config("spark.sql.files.minPartitionNum", CPUS)
        .config("spark.locality.wait", "0")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.all_queries()
    names = sorted(queries) if names_filter is None else names_filter
    results: dict[str, dict] = {}
    for idx, name in enumerate(names):
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        try:
            t0 = time.perf_counter()
            fn(spark, opt_dir).write.format("noop").mode("overwrite").save()
            warm = time.perf_counter() - t0
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, opt_dir).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            results[name] = {
                "sec": round(st.median(times), 4),
                "warm_sec": round(warm, 4),
            }
            print(
                f"[{idx + 1}/{len(names)}] {name}: {results[name]['sec']:.3f}s",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            results[name] = {"error": f"{type(exc).__name__}: {exc}"}
            print(f"[{idx + 1}/{len(names)}] {name}: ERROR {exc}", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)

    ranked = dict(
        sorted(
            results.items(),
            key=lambda kv: -(kv[1].get("sec") or 0.0),
        )
    )
    with open(out_path, "w") as fh:
        json.dump(
            {"sf_dir": opt_dir, "cpus": CPUS, "reps": reps, "queries": ranked},
            fh,
            indent=1,
        )
        fh.write("\n")
    total = sum(v.get("sec", 0.0) for v in results.values())
    errs = [k for k, v in results.items() if "error" in v]
    print(f"TOTAL {total:.1f}s over {len(names)} queries; errors: {errs}")
    spark.stop()
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
