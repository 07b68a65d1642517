"""Fuzz family 24: candidate-then-verify cosine dedup, differential.

dedup_embedding_cosine's r8 rewrite hinges on the banded
component-difference-sign candidate rule being computed IDENTICALLY by the
Spark plan and the DuckDB oracle (the rule is part of the operator's
contract above the exact-N threshold).  40 seeded random corpora — dims
8..64, sizes straddling a lowered exact-N threshold so BOTH the all-pairs
branch and the banded branch execute, value distributions normal and
planted-near-dup — run the factored core (_dedup_cos_pairs) against the
templated oracle (_dedup_cos_oracle_sql) on the same rows and require
exact row-set equality.  A drift in the bit rule, the bits(n) law, the
band count, or the float→double cast discipline on either side is a
failure here before it can become a driver hash failure.
"""

from __future__ import annotations

import random

import duckdb
import numpy as np
import pytest

from duckdb_postgis_spark.operators import llm

pytestmark = pytest.mark.seeded("seed")

SEEDS = range(40)
EXACT_N = 120  # lowered threshold: seeds above it take the banded branch


def _corpus(seed: int):
    rng = np.random.default_rng(7000 + seed)
    pyrng = random.Random(7000 + seed)
    dim = pyrng.choice([8, 16, 32, 64])
    n = pyrng.randint(40, 400)
    base = rng.standard_normal((n, dim)).astype("float32")
    # plant near-dup pairs so the >=0.4 verify gate has positives even in
    # high dims (random pairs sit near cosine 0)
    for k in range(max(2, n // 20)):
        i, j = pyrng.randrange(n), pyrng.randrange(n)
        if i != j:
            base[j] = base[i] + rng.standard_normal(dim).astype("float32") * 0.05
    return n, dim, base


@pytest.mark.parametrize("seed", SEEDS)
def test_cos_dedup_spark_matches_oracle(spark, seed):
    n, dim, mat = _corpus(seed)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = sorted(
        tuple(map(str, r))
        for r in llm._dedup_cos_pairs(emb, n, dim, exact_n=EXACT_N).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(llm._dedup_cos_oracle_sql(EXACT_N)).fetchall()
    )
    branch = "all-pairs" if n <= EXACT_N else "banded"
    assert got == want, (
        f"seed {seed} ({branch}, n={n}, dim={dim}): spark {len(got)} pairs "
        f"vs oracle {len(want)}"
    )


def test_branches_both_exercised():
    """The seed pool must cover both sides of the threshold, or the family
    silently tests only one branch."""
    sides = {( _corpus(s)[0] > EXACT_N) for s in SEEDS}
    assert sides == {True, False}
