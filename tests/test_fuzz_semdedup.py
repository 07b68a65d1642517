"""Fuzz family 30: SemDeDup cell dedup, differential on random corpora.

dedup_semdedup_cells' contract has three cross-engine branch points — the
md5-ordered seed pick, the per-vector argmax cell assignment (ties break to
the lower seed id), and the exact cosine >= tau verify — all pure
arithmetic both engines must compute bit-identically.  40 seeded random
corpora (dims 8..64, sizes 60..1500 so K stays at the 16 floor AND crosses
it once cell scaling kicks in, normal and row-scaled magnitudes, planted
near-dup pairs so the tau gate has positives in high dim) write real
parquet (the operator reads footer stats) and compare the operator's rows
against the registered DuckDB oracle on the same file, requiring exact
row-set equality.
"""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry
from duckdb_postgis_spark.operators import llm

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)


def _force_path(monkeypatch, path: str) -> None:
    """Route every corpus size to the matmul or the two-level assignment
    by moving the size-dispatch thresholds under it."""
    monkeypatch.setattr(llm, "_SEMDEDUP_MATMUL_SCORES", 0)
    monkeypatch.setattr(
        llm, "_SEMDEDUP_BCAST_SEEDS", 0 if path == "twolevel" else 1 << 62
    )


def _write_corpus(seed: int, path) -> None:
    rng = np.random.default_rng(30000 + seed)
    pyrng = random.Random(30000 + seed)
    dim = pyrng.choice([8, 16, 32, 64])
    n = pyrng.randint(60, 1500)
    M = rng.standard_normal((n, dim)).astype("float32")
    if pyrng.random() < 0.4:
        M *= rng.lognormal(0.0, 1.0, size=(n, 1)).astype("float32")
    for _ in range(max(2, n // 25)):  # plant near-dups for the tau gate
        i, j = pyrng.randrange(n), pyrng.randrange(n)
        if i != j:
            M[j] = M[i] + rng.standard_normal(dim).astype("float32") * 0.05
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [list(map(float, r)) for r in M], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(t, path / "embeddings.parquet")


@pytest.mark.parametrize("seed", SEEDS)
def test_semdedup_spark_matches_oracle(spark, tmp_path, seed):
    _write_corpus(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["dedup_semdedup_cells"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["dedup_semdedup_cells"]).fetchall()
    )
    assert got == want, f"seed {seed}: semdedup rows diverge"
    assert want, f"seed {seed}: planted near-dups produced no removals"


def test_semdedup_twolevel_exact_when_supers_cover(spark, tmp_path, monkeypatch):
    """m >= K makes every seed its own super-cell, so the two-level route
    degenerates to the exact global argmax — forced 'twolevel' must equal
    forced 'matmul' AND the registered oracle byte-for-byte (the r10
    order-#2 equality pin)."""
    _write_corpus(7, tmp_path)
    _force_path(monkeypatch, "matmul")
    exact = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["dedup_semdedup_cells"](
            spark, str(tmp_path)
        ).collect()
    )
    _force_path(monkeypatch, "twolevel")
    monkeypatch.setattr(llm, "_SEMDEDUP_SUPER_MIN", 100000)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["dedup_semdedup_cells"](
            spark, str(tmp_path)
        ).collect()
    )
    assert got == exact, "twolevel(m>=K) diverges from exact matmul argmax"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["dedup_semdedup_cells"]).fetchall()
    )
    assert got == want


def test_semdedup_twolevel_properties(spark, tmp_path, monkeypatch):
    """Default-m two-level route (the approximate IVF-nprobe-1 quantizer):
    (1) deterministic across runs, (2) every reported removal is a TRUE
    near-dup — exact cosine >= tau recomputed in numpy — because the
    verify stage is exact regardless of the quantizer, (3) keep_id <
    removed_id (the lower-id-wins rule), (4) the assignment stage maps
    every vector to exactly one valid seed cell."""
    _write_corpus(11, tmp_path)
    _force_path(monkeypatch, "twolevel")
    q = registry.QUERIES["dedup_semdedup_cells"]
    r1 = sorted(tuple(r) for r in q(spark, str(tmp_path)).collect())
    r2 = sorted(tuple(r) for r in q(spark, str(tmp_path)).collect())
    assert r1 == r2, "two-level route is nondeterministic"
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{tmp_path}/embeddings.parquet")
    V = np.stack([np.asarray(x, dtype="float64") for x in t["embedding"].to_pylist()])
    ids = {int(i): k for k, i in enumerate(t["vec_id"].to_pylist())}

    def cos(a, b):
        return float(V[ids[a]] @ V[ids[b]]) / (
            np.linalg.norm(V[ids[a]]) * np.linalg.norm(V[ids[b]])
        )

    assert r1, "planted near-dups produced no removals on the two-level path"
    for removed, keep, _cell in r1:
        assert keep < removed
        assert cos(keep, removed) >= 0.4 - 1e-9, (removed, keep)
    # assignment-stage invariants, probed directly
    from duckdb_postgis_spark.catalog import table as _table
    from duckdb_postgis_spark.operators.llm import (
        _SEMDEDUP_CELL,
        _corpus_stats,
        _semdedup_two_level,
    )
    from pyspark.sql import functions as F

    emb = _table(spark, str(tmp_path), "embeddings")
    n, _dim = _corpus_stats(f"{tmp_path}/embeddings.parquet")
    kk = max(16, n // _SEMDEDUP_CELL)
    seed_frame = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(kk)
        .select(F.col("vec_id").alias("seed_id"), F.col("embedding").alias("se"))
    )
    assigned = _semdedup_two_level(spark, emb, seed_frame, kk).collect()
    assert len(assigned) == n, "two-level assignment dropped/duplicated vectors"
    assert len({r["vec_id"] for r in assigned}) == n
    seed_ids = {r["seed_id"] for r in seed_frame.collect()}
    assert {r["cell"] for r in assigned} <= seed_ids
