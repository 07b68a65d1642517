"""Fuzz family 29: count-min-sketch top-k, differential on random skew.

agg_cms_topk_merge pins the sketch's one-sided error and lossless shard
merge, and DIFFERENTIALLY verifies the estimate itself (the DuckDB oracle
replays the full sketch — hash rows, counter table, min-over-rows read —
so ``cms_est`` is value-compared, not bound-pinned).  This family
re-derives all of it on 40
seeded random lineitem shapes — supplier cardinalities 3..3000 (both far
below and well above the 512-counter width, so collision pressure is
exercised), zipf-like and uniform frequency profiles, shuffled
non-contiguous order keys — by running the operator against the registered
DuckDB oracle on the same rows and requiring exact row-set equality
(estimates and pinned booleans included: an undercount, a bucket-
arithmetic drift, or a lossy merge becomes a row mismatch here first).
"""

from __future__ import annotations

import random

import duckdb
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)


def _corpus(seed: int):
    rng = random.Random(29000 + seed)
    n_keys = rng.randint(3, 3000)
    zipf = rng.random() < 0.6
    rows = []
    key = 0
    for s in range(n_keys):
        if zipf:
            size = max(1, int(2000 / (s + 1)))
        else:
            size = rng.randint(1, 40)
        for _ in range(size):
            rows.append((key, s))
            key += rng.randint(1, 7)
        if len(rows) > 20000:
            break
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("seed", SEEDS)
def test_cms_topk_spark_matches_oracle(spark, tmp_path, seed):
    rows = _corpus(seed)
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_suppkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["agg_cms_topk_merge"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["agg_cms_topk_merge"]).fetchall()
    )
    assert got == want, f"seed {seed}: CMS top-k rows diverge"
