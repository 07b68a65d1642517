"""Fuzz family 23: HLL sketch-merge drift bounds (r7 verdict #9).

agg_hll_sketch_merge pins two properties on the driver's lineitem shape:
merged estimate within 5% of exact, and within 2% of the direct one-pass
sketch.  Across random shapes the second bound is derived from the
sketch size instead of measured: an lgK=12 sketch has relative standard
error 1.04/sqrt(2^12) = 1.625%, and both estimates come from sketches
merged out of per-partition partials, so their difference depends on how
rows were partitioned (a measured 2% margin held on 32 cores and failed
on 4).  These seeds check the bounds hold across RANDOM table
shapes — shard counts from 2 to 64, group cardinalities from 8 to 20000,
heavy-duplication and all-unique key distributions — because the pinned
percentages are only trustworthy if they are properties of DataSketches'
HLL_4/HLL_8 union behavior, not accidents of one table.

40 seeds batched into 4 Spark actions (10 seeds per DataFrame; the group
key carries the seed, a broadcast map carries each seed's shard count),
mirroring the registered query's plan: per-(group, shard) hll_sketch_agg
-> hll_union_agg -> hll_sketch_estimate, with countDistinct and the
direct sketch as companions.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.seeded("batch")

BATCHES = 4
SEEDS_PER_BATCH = 10
#: hll_sketch_agg's default lgConfigK
LG_K = 12
#: relative standard error of an HLL sketch with 2^LG_K registers
SIGMA = 1.04 / math.sqrt(2**LG_K)
#: merged-vs-direct drift allowed, in standard errors
K_SIGMA = 3


def _batch_rows(batch: int):
    """(group, key) rows + per-group shard counts for one 10-seed batch."""
    rows, shards = [], []
    for j in range(SEEDS_PER_BATCH):
        seed = batch * SEEDS_PER_BATCH + j
        rng = np.random.default_rng(4000 + seed)
        card = int(rng.integers(8, 20001))
        dup = float(rng.uniform(1.0, 4.0))
        nrows = int(card * dup)
        nshards = int(rng.choice([2, 4, 8, 16, 32, 64]))
        grp = f"s{seed}"
        # keys drawn with replacement from a card-sized domain whose ids are
        # seed-offset so sketches never share register patterns across seeds
        keys = rng.integers(0, card, size=nrows) + seed * 10_000_000
        rows.extend((grp, int(k)) for k in keys)
        # ensure the domain edge keys exist so the exact count is the domain
        rows.append((grp, seed * 10_000_000))
        rows.append((grp, seed * 10_000_000 + card - 1))
        shards.append((grp, nshards))
    return rows, shards


@pytest.mark.parametrize("batch", range(BATCHES))
def test_hll_union_drift_bounds(spark, batch):
    rows, shards = _batch_rows(batch)
    df = spark.createDataFrame(rows, "grp string, key bigint")
    sh = spark.createDataFrame(shards, "grp string, nshards int")
    base = df.join(F.broadcast(sh), "grp").withColumn(
        "shard", F.pmod(F.hash("key"), F.col("nshards"))
    )
    sketches = base.groupBy("grp", "shard").agg(
        F.hll_sketch_agg("key", LG_K).alias("sk")
    )
    merged = sketches.groupBy("grp").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = df.groupBy("grp").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("key", LG_K)).alias("est_direct"),
        F.countDistinct("key").alias("exact"),
    )
    out = merged.join(direct, "grp").collect()
    assert len(out) == SEEDS_PER_BATCH
    for r in out:
        rel = abs(r.est_merged - r.exact) / r.exact
        assert rel <= 0.05, (
            f"{r.grp}: merged {r.est_merged} vs exact {r.exact} drift {rel:.3%} "
            "exceeds the 5% bound the registered query pins"
        )
        drift = abs(r.est_merged - r.est_direct) / max(r.est_direct, 1.0)
        assert drift <= K_SIGMA * SIGMA, (
            f"{r.grp}: merged {r.est_merged} vs direct {r.est_direct} drift "
            f"{drift:.3%} exceeds k*sigma = {K_SIGMA} * {SIGMA:.3%} "
            f"(lgK={LG_K}) = {K_SIGMA * SIGMA:.3%}"
        )
