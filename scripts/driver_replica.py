"""Driver-replica gate: run the 50-query PRIORITY window exactly the way the
driver's CORRECTNESS harness does — a PLAIN SparkSession (none of our
session.py confs), sf0.01, each query side-by-side with its DuckDB oracle —
and fail loudly on any divergence.

Round-3 lesson: the local pytest harness was green while the driver's data
had drifted; this script is the pre-ship rehearsal of the real interface.

Usage:
    python scripts/driver_replica.py            # full 50-slot window
    python scripts/driver_replica.py --all      # every registered query
    python scripts/driver_replica.py name1 ...  # just the named queries
"""

from __future__ import annotations

import os
import sys
import time
import traceback

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))
# Python workers import the package too, from whatever directory the
# script runs in: they inherit PYTHONPATH when the JVM starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [_ROOT, os.environ.get("PYTHONPATH")])
)

#: override with SPARK_GRAFT_REPLICA_SF_DIR to rehearse at another scale
#: (round 6: a full sf0.1 sweep doubles as a perf-cliff check on the
#: window before the driver runs it)
SF_DIR = os.environ.get("SPARK_GRAFT_REPLICA_SF_DIR", "/root/testdata/sf0.01")


#: restart the plain session every N queries.  The driver itself runs at
#: most DRIVER_WINDOW (50) queries per session at sf0.01; a full --all
#: sweep at sf0.1 accumulates >1300 stages of UI/listener state in the
#: default 1 GiB plain-session heap and OOMs around query ~86 — a sweep
#: artifact, not a query bug.  Chunking keeps each session within the
#: driver's own per-session envelope.
CHUNK = int(os.environ.get("SPARK_GRAFT_REPLICA_CHUNK", "50"))


def make_session(app: str = "driver-replica"):
    """A plain session, as the driver builds it: no custom confs.
    SPARK_GRAFT_REPLICA_MASTER sets the master (default ``local[8]``).
    SPARK_GRAFT_REPLICA_DRIVER_MEM optionally sets the heap for
    beyond-driver-scale sweeps: at sf0.1 the heaviest distinct
    aggregations legitimately exceed the 1 GiB default local heap during
    spill (agg_approx_distinct OOMs a fresh plain session at sf0.1 and
    runs fine at sf0.01)."""
    from duckdb_postgis_spark.session import get_spark

    master = os.environ.get("SPARK_GRAFT_REPLICA_MASTER", "local[8]")
    mem = os.environ.get("SPARK_GRAFT_REPLICA_DRIVER_MEM")
    return get_spark(app, master, conf={"spark.driver.memory": mem} if mem else {})


def main() -> int:
    from duckdb_postgis_spark import registry
    from oracle_harness import compare_query

    spark = make_session()
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    if sys.argv[1:] == ["--all"]:
        window = list(queries)
    else:
        window = sys.argv[1:] or list(queries)[: registry.DRIVER_WINDOW]

    failed: list[str] = []
    for i, name in enumerate(window, 1):
        if i > 1 and (i - 1) % CHUNK == 0:
            spark.stop()
            spark = make_session()
        t0 = time.monotonic()
        try:
            if name in oracles:
                compare_query(spark, name, queries[name], oracles[name], SF_DIR)
                verdict = "hash-ok"
            else:
                n = queries[name](spark, SF_DIR).count()
                verdict = f"rows-only ({n})"
            print(f"[{i:2}/{len(window)}] {name}: {verdict} "
                  f"({time.monotonic() - t0:.1f}s)", flush=True)
        except Exception:
            failed.append(name)
            print(f"[{i:2}/{len(window)}] {name}: FAIL", flush=True)
            traceback.print_exc(limit=6)
    print(f"\n{len(window) - len(failed)}/{len(window)} green; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
