"""Fuzz family 34: cross-lingual semantic dedup, differential.

dedup_crosslingual_semantic composes the banded cosine candidate machinery
(family 24 covers its bit rule) with the lang_a <> lang_b filter — the new
agreement surface is the LANGUAGE attach/filter and its interaction with
the threshold gate.  40 seeded corpora draw lang pools of size 1..4
(size 1 = every document same language → output must be EXACTLY EMPTY on
both engines, not merely small), plant near-dup pairs both cross- and
same-lang, and plant pairs with cosine engineered to straddle the 0.4
verify threshold (theta slightly above/below arccos(0.4)) so boundary
rounding must agree cross-engine.  Real parquet, registered-oracle
differential, house harness (judge r10 order #4).
"""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)
_LANGS = ["en", "de", "fr", "ja"]


def _write_corpus(seed: int, path) -> int:
    rng = np.random.default_rng(34000 + seed)
    pyrng = random.Random(34000 + seed)
    dim = pyrng.choice([8, 16, 32])
    n = pyrng.randint(40, 300)
    n_langs = pyrng.choice([1, 2, 2, 3, 4])  # 1 = all-same-lang seed
    M = rng.standard_normal((n, dim)).astype("float32")
    for _ in range(max(2, n // 20)):  # near-dups (cross- and same-lang mix)
        i, j = pyrng.randrange(n), pyrng.randrange(n)
        if i != j:
            M[j] = M[i] + rng.standard_normal(dim).astype("float32") * 0.05
    # threshold-straddling pairs: b at angle arccos(0.4 +/- eps) from a,
    # built in the plane of a and an orthogonalized random direction
    for eps in (0.02, -0.02, 0.004, -0.004):
        i, j = pyrng.randrange(n), pyrng.randrange(n)
        if i == j:
            continue
        a = M[i].astype("float64")
        a = a / np.linalg.norm(a)
        r = rng.standard_normal(dim)
        r = r - (r @ a) * a
        r = r / np.linalg.norm(r)
        c = 0.4 + eps
        M[j] = ((c * a + np.sqrt(1 - c * c) * r) * pyrng.uniform(0.5, 2.0)).astype(
            "float32"
        )
    langs = [pyrng.choice(_LANGS[:n_langs]) for _ in range(n)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, r)) for r in M], pa.list_(pa.float32())
                ),
            }
        ),
        path / "embeddings.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "lang": pa.array(langs, pa.string()),
            }
        ),
        path / "documents.parquet",
    )
    return n_langs


@pytest.mark.parametrize("seed", SEEDS)
def test_crosslingual_spark_matches_oracle(spark, tmp_path, seed):
    n_langs = _write_corpus(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["dedup_crosslingual_semantic"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(
            registry.ORACLES["dedup_crosslingual_semantic"]
        ).fetchall()
    )
    assert got == want, f"seed {seed}: crosslingual rows diverge"
    if n_langs == 1:
        assert got == [], f"seed {seed}: all-same-lang corpus must dedup to empty"


def test_lang_pools_both_exercised():
    """The seed pool must include all-same-lang (empty-output) corpora AND
    multi-lang ones, or the family silently skips the empty branch."""
    pools = set()
    for s in SEEDS:
        pyrng = random.Random(34000 + s)
        pyrng.choice([8, 16, 32])
        pyrng.randint(40, 300)
        pools.add(pyrng.choice([1, 2, 2, 3, 4]) == 1)
    assert pools == {True, False}
