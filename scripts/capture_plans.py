"""Dump normalized ``explain("formatted")`` plans, one file per query.

Usage:
    python scripts/capture_plans.py OUT_DIR [name ...]

Builds every registered query (or only the named ones) on the oracle
replica's data (sf0.01, ``SPARK_GRAFT_REPLICA_SF_DIR``) under the same plain
``local[N]`` session ``driver_replica.py`` uses, and writes
``OUT_DIR/<name>.txt``.  Ids that change from run to run are normalized so
two checkouts can be compared with a plain ``diff -r``: expression ids,
plan ids, RDD ids, lambda variable names, the derived-layout root, tmp
paths and part-file UUIDs.
"""

from __future__ import annotations

import os
import re
import sys
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

from driver_replica import CHUNK, SF_DIR, make_session  # noqa: E402

_NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\blambda \w+"), "lambda _"),
    (re.compile(r"/tmp/duckdb_postgis_spark_layout"), "<LAYOUT>"),
    (re.compile(r"/tmp/[\w.-]+"), "<TMP>"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<UUID>"),
    (re.compile(re.escape(_ROOT)), "<ROOT>"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, names = sys.argv[1], sys.argv[2:]

    from duckdb_postgis_spark import registry

    queries = registry.all_queries()
    names = names or list(queries)
    os.makedirs(out_dir, exist_ok=True)
    spark = make_session("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    failed: list[str] = []
    for i, name in enumerate(names, 1):
        if i > 1 and (i - 1) % CHUNK == 0:
            spark.stop()
            spark = make_session("plan-capture")
            spark.sparkContext.setLogLevel("ERROR")
        try:
            df = queries[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception:
            failed.append(name)
            plan = "BUILD FAILED\n" + traceback.format_exc(limit=0)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(normalize(plan))
        print(f"[{i}/{len(names)}] {name}", flush=True)
    spark.stop()
    print(f"wrote {len(names)} plans to {out_dir}; build failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
