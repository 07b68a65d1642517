"""Fuzz family 27: product-quantization search, end-to-end planted-duplicate
property on random corpora.

similarity_search_pq's quality pin (recall_ge_06) is measured on the shipped
testdata; this family pins the mechanism itself on 40 seeded random corpora:
a corpus containing an EXACT DUPLICATE of the query vector must return that
duplicate as the top-1 result — the duplicate's reconstruction maximizes
ADC cosine far above random vectors (which sit near cosine 0 in high dim),
so it must survive the candidate cut and win the exact re-rank with
cosine 1.0.  Corpora vary dimension (16/32/64 — all divisible by the 16
subspaces), size (150..600, both sides of the adaptive candidate-depth
knee), and distribution (normal / lognormal-skewed), and the planted
duplicate lands at a random id.  Also pins end-to-end determinism: two
invocations on the same files return identical rows.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark.operators import llm

pytestmark = pytest.mark.seeded("seed")

SEEDS = range(40)


def _write_corpus(seed: int, path) -> int:
    rng = np.random.default_rng(27000 + seed)
    pyrng = random.Random(27000 + seed)
    dim = pyrng.choice([16, 32, 64])
    n = pyrng.randint(150, 600)
    M = rng.standard_normal((n, dim)).astype("float32")
    if pyrng.random() < 0.5:  # skewed magnitudes: lognormal row scales
        M *= rng.lognormal(0.0, 1.0, size=(n, 1)).astype("float32")
    dup_id = pyrng.randint(1, n - 1)
    M[dup_id] = M[0]  # exact duplicate of the query vector (vec_id 0)
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([list(map(float, r)) for r in M], pa.list_(pa.float32())),
        }
    )
    pq.write_table(t, path / "embeddings.parquet")
    return dup_id


@pytest.mark.parametrize("seed", SEEDS)
def test_pq_planted_duplicate_is_top1(spark, tmp_path, seed):
    dup_id = _write_corpus(seed, tmp_path)
    got = llm._similarity_search_pq_approx(spark, str(tmp_path)).collect()
    assert got, f"seed {seed}: empty result"
    assert got[0].vec_id == dup_id, (
        f"seed {seed}: planted duplicate {dup_id} not top-1: {got[:3]}"
    )
    assert abs(got[0].cosine - 1.0) < 1e-6
    again = llm._similarity_search_pq_approx(spark, str(tmp_path)).collect()
    assert got == again, f"seed {seed}: PQ search not deterministic"
