"""Rank registered queries by duplicated-subtree indicators in their
physical plans: parquet-scan count, Python-boundary node count, and
ReusedExchange count.  A query whose plan scans the same table many times
is a fan-out suspect (the _pin_recall disease — r13 optimization round).

Usage:
    python scripts/plan_dup_scan.py [name1,name2,...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> int:
    names_filter = sys.argv[1].split(",") if len(sys.argv) > 1 else None

    from pyspark.sql import SparkSession

    from duckdb_postgis_spark import registry
    from duckdb_postgis_spark.catalog import ensure_scan_layout

    opt_dir, _ = ensure_scan_layout(SF_DIR)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("plan-dup-scan")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = registry.all_queries()
    names = sorted(queries) if names_filter is None else names_filter
    rows = []
    for name in names:
        try:
            df = queries[name](spark, opt_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — diagnostic sweep
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        # count only the operator-tree lines, not the detail section
        tree = plan.split("\n\n", 1)[0]
        scans = len(re.findall(r"Scan parquet", tree))
        py = len(
            re.findall(
                r"ArrowEvalPython|FlatMapCoGroupsInPandas|MapInPandas|"
                r"FlatMapGroupsInPandas|BatchEvalPython|MapInArrow",
                tree,
            )
        )
        reused = len(re.findall(r"ReusedExchange", tree))
        rows.append((scans, py, reused, name))
    rows.sort(reverse=True)
    print(f"{'scans':>5s} {'pyNodes':>7s} {'reusedEx':>8s}  query")
    for scans, py, reused, name in rows:
        print(f"{scans:5d} {py:7d} {reused:8d}  {name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
