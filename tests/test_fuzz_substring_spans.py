"""Fuzz family 26: duplicated-substring-span dedup, differential.

dedup_substring_spans' contract is positional: a 16-token window counts as
duplicated iff its md5 occurs in >= 2 DISTINCT documents, intra-doc repeats
never count, docs under 16 tokens are excluded, and first_dup_pos is
1-based.  40 seeded random corpora — small vocabularies (so chance window
collisions are possible and MUST be counted identically), doc lengths
straddling the 16-token exclusion boundary, planted shared runs of
16..40 tokens across random doc pairs, and planted intra-doc repeats —
run the factored core (_substring_spans) against the registered DuckDB
oracle on the same rows and require exact row-set equality, plus the
positivity property that every corpus with a planted cross-doc run
reports at least one duplicated window.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from duckdb_postgis_spark import registry
from duckdb_postgis_spark.operators import training

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)


def _corpus(seed: int):
    rng = random.Random(26000 + seed)
    vocab = [f"w{i}" for i in range(rng.randint(20, 200))]
    n_docs = rng.randint(6, 40)
    docs = [
        [rng.choice(vocab) for _ in range(rng.randint(5, 120))]
        for _ in range(n_docs)
    ]
    # plant cross-doc shared runs (the hit path)
    planted = 0
    for _ in range(rng.randint(1, 4)):
        run = [rng.choice(vocab) for _ in range(rng.randint(16, 40))]
        i, j = rng.randrange(n_docs), rng.randrange(n_docs)
        if i == j:
            continue
        docs[i] = docs[i][: rng.randint(0, len(docs[i]))] + run
        docs[j] = run + docs[j][: rng.randint(0, len(docs[j]))]
        planted += 1
    # plant an intra-doc repeat (must NOT count on its own)
    k = rng.randrange(n_docs)
    rep = [rng.choice(vocab) for _ in range(16)]
    docs[k] = rep + docs[k] + rep
    return [(d, " ".join(toks)) for d, toks in enumerate(docs)], planted


@pytest.mark.parametrize("seed", SEEDS)
def test_substring_spans_spark_matches_oracle(spark, seed):
    rows, planted = _corpus(seed)
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        tuple(map(str, r)) for r in training._substring_spans(docs).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(
            registry.ORACLES["dedup_substring_spans"]
        ).fetchall()
    )
    assert got == want, f"seed {seed}: spark/oracle span sets diverge"
    if planted:
        total_dups = sum(int(r[2]) for r in got)
        assert total_dups > 0, f"seed {seed}: planted cross-doc run not found"
