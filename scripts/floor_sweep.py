"""Scan-decode floor sweep at the sf1 shape (judge r10 order #3).

BENCH_r09 isolated a 10x single-node gap on the bare scan+sum floor:
Spark 81.6 ms (96 ms wide) vs DuckDB 8.0/22.3 ms on the same 6M-row
normalized-layout lineitem.  This script decomposes that number and
sweeps the levers that could move it:

  - pyarrow C++ read of the same columns = the machine's native decode
    lower bound (splits "parquet decode" from "Spark job machinery")
  - spark.sql.parquet.columnarReaderBatchSize 4096 (default) vs 16384
  - codec of the normalized layout: snappy (current) vs zstd vs none
  - row-group count: 32 (current) vs 8 (bigger groups, fewer tasks)
  - task-count extremes (1 task vs 32) to re-confirm the r9 finding that
    the floor is flat in task count (decode-bound, not scheduling-bound)

Each cell: 3 warm passes, median of 7 timed scan+sum runs on a FRESH
DataFrame, minus the median plan-only cost — the exact _floor_scan
method bench.py uses, so numbers are comparable to BENCH_r* floors.

Usage: python scripts/floor_sweep.py [sf1_stress_dir]
"""

from __future__ import annotations

import os
import statistics as st
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "scripts"))


def timed(fn, warm=3, reps=7):
    for _ in range(warm):
        fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return st.median(ts) * 1000


def spark_floor(spark, path: str, cols: list[str], split_mb: int = 8) -> float:
    from pyspark.sql import functions as F

    def plan_only():
        df = spark.read.parquet(path).select(*[F.sum(c) for c in cols])
        df._jdf.queryExecution().executedPlan()

    def run():
        spark.read.parquet(path).select(*[F.sum(c) for c in cols]).collect()

    p = timed(plan_only)
    r = timed(run)
    return max(r - p, 0.0)


def main() -> None:
    from make_scale_stress import build

    from duckdb_postgis_spark.catalog import ensure_scan_layout

    raw = build(10, sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_stress")
    d, _ = ensure_scan_layout(raw)
    li = f"{d}/lineitem.parquet"
    narrow = ["l_extendedprice"]
    wide = ["l_extendedprice", "l_partkey", "l_suppkey", "l_orderkey"]

    # --- native decode lower bounds ------------------------------------
    import duckdb
    import pyarrow.parquet as pq

    for label, cols in [("narrow", narrow), ("wide", wide)]:
        ms = timed(lambda c=cols: pq.read_table(li, columns=c))
        print(f"pyarrow read {label}: {ms:.1f} ms")
        ms = timed(
            lambda c=cols: duckdb.execute(
                f"SELECT {', '.join(f'sum({x})' for x in c)} "
                f"FROM read_parquet('{li}')"
            ).fetchall()
        )
        print(f"duckdb scan+sum {label}: {ms:.1f} ms")

    # --- codec / row-group variants of the SAME lineitem ----------------
    variants = {"snappy32": li}
    pf = pq.ParquetFile(li)
    rows = pf.metadata.num_rows
    for codec, groups in [("zstd", 32), ("none", 32), ("snappy", 8)]:
        key = f"{codec}{groups}"
        path = f"/tmp/floor_sweep_{key}.parquet"
        if not os.path.exists(path):
            pq.write_table(
                pf.read(),
                path,
                row_group_size=-(-rows // groups),
                version="2.6",
                compression=codec if codec != "none" else "NONE",
            )
        variants[key] = path
    for key, path in variants.items():
        sz = os.path.getsize(path) / 1e6
        print(f"variant {key}: {sz:.0f} MB")

    # --- Spark sweep -----------------------------------------------------
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for batch in ["4096", "16384"]:
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"floor-sweep-b{batch}")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.sql.parquet.columnarReaderBatchSize", batch)
            .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
            .config("spark.sql.files.openCostInBytes", "32768")
            .config("spark.locality.wait", "0")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        for key, path in variants.items():
            n = spark_floor(spark, path, narrow)
            w = spark_floor(spark, path, wide)
            print(f"spark batch={batch} {key}: narrow {n:.1f} ms, wide {w:.1f} ms")
        # task-count extreme: one split = one task (scheduling vs decode)
        if batch == "4096":
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(1024 * 1024 * 1024)
            )
            n1 = spark_floor(spark, variants["snappy32"], narrow)
            print(f"spark batch={batch} snappy32 ONE-SPLIT: narrow {n1:.1f} ms")
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024)
            )
        spark.stop()


if __name__ == "__main__":
    main()
