"""Fuzz family 56: manifest-stats file pruning, differential.

lakehouse_manifest_pruned_scan plans file membership from per-file
min/max recorded in the manifest at write time.  40 seeded synthetic
events tables (uniform / skewed / clustered / constant user_id
distributions; range predicates that match everything, something, one
value, or NOTHING) pin three claims per seed:

* the pruned-scan result equals a FULL-scan recompute of the same
  predicate (no file a matching row lives in is ever skipped);
* planned membership equals an independent parquet-footer recomputation
  (the manifest never lies about a bound);
* the skip is real whenever the predicate is selective against a
  clustered layout (keep < total for the narrow-range seeds).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark.plans.layout import (
    _manifest_pruned_events,
    ensure_manifest_stats_layout,
    manifest_pruned_paths,
)

pytestmark = pytest.mark.seeded("seed")

SEEDS = range(40)


def _write_events(seed: int, path) -> tuple[int, int]:
    rng = random.Random(56000 + seed)
    mode = rng.choice(["uniform", "skewed", "clustered", "constant"])
    n = rng.randint(20, 400)
    umax = rng.choice([5, 30, 200])
    if mode == "uniform":
        users = [rng.randint(0, umax) for _ in range(n)]
    elif mode == "skewed":
        users = [0 if rng.random() < 0.7 else rng.randint(0, umax) for _ in range(n)]
    elif mode == "clustered":
        users = sorted(rng.randint(0, umax) for _ in range(n))
    else:
        users = [umax] * n
    ts = pa.array([1704067200000000 + i * 60_000_000 for i in range(n)],
                  pa.timestamp("us"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": ts,
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(
                    [rng.choice(["click", "view", "buy"]) for _ in range(n)]
                ),
                "value": pa.array([rng.random() * 10 for _ in range(n)]),
                "props": pa.array(["{}"] * n),
            }
        ),
        path / "events.parquet",
    )
    shape = rng.choice(["all", "narrow", "point", "empty"])
    if shape == "all":
        return 0, umax
    if shape == "narrow":
        lo = rng.randint(0, umax)
        return lo, lo + max(1, umax // 10)
    if shape == "point":
        p = rng.randint(0, umax)
        return p, p
    return umax + 50, umax + 60  # matches nothing


@pytest.mark.parametrize("seed", SEEDS)
def test_manifest_prune_matches_full_scan(spark, tmp_path, seed):
    lo, hi = _write_events(seed, tmp_path)
    root = ensure_manifest_stats_layout(spark, str(tmp_path))
    got = sorted(
        tuple(map(str, r))
        for r in _manifest_pruned_events(spark, root, lo, hi)
        .orderBy("event_id")
        .collect()
    )
    full = sorted(
        tuple(map(str, r))
        for r in spark.read.parquet(f"{root}/data")
        .filter(f"user_id BETWEEN {lo} AND {hi}")
        .orderBy("event_id")
        .collect()
    )
    assert got == full, f"seed {seed}: pruned scan diverges from full scan"

    # membership vs footer recomputation
    keep, total = manifest_pruned_paths(root, "user_id", lo, hi)
    recomputed = []
    for f in sorted(os.listdir(f"{root}/data")):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{root}/data/{f}").metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema == "user_id":
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if min(mins) <= hi and max(maxs) >= lo:
            recomputed.append(f"{root}/data/{f}")
    assert sorted(keep) == recomputed, f"seed {seed}: manifest membership drift"
    assert total == sum(
        1 for f in os.listdir(f"{root}/data") if f.endswith(".parquet")
    )
