"""Fuzz family 57: batched BPE merge learning (text_bpe_train_batched).

Seeded corpora emphasize the batch rule's edge shapes: CONFLICT chains
('ab' next to 'bc' — the lower-ranked pair shares a token and must
defer), pair-count ties resolved only by the (l, r) tie-break, repeated
letters (chain merges under left-to-right replace), sub-gate words, and
all-1-char corpora (zero learnable merges on both engines).  Every seed
is compared row-for-row against the registered DuckDB oracle, which
replays rank window, defer rule, slot order, and chained sequential
replace.

Directed pins: (1) a pair overlapping a higher-ranked pair defers to the
NEXT round and is learned there (the r12 verdict's conflict seed); (2)
the A/B the verdict ordered — 12 independent merges learned in 3 driver
round-trips (m=4) where the sequential trainer pays one round-trip per
merge.
"""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)
_WORDS = [
    "ab", "bc", "cd", "abc", "bcd", "abab", "aaaa", "aaa", "aa", "a",
    "xy", "yz", "xyz", "qy", "alpha", "beta", "the", "No-Gate!", "é",
]


def _write_docs(rows, path) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["src0"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        path / "documents.parquet",
    )


def _seed_docs(seed: int):
    rng = random.Random(57000 + seed)
    if seed % 7 == 3:
        vocab = ["a", "b", "c"]  # 1-char words: zero learnable merges
        return [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 5))))
            for i in range(rng.randint(1, 10))
        ]
    vocab = _WORDS[: rng.randint(4, len(_WORDS))]
    return [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(rng.randint(1, 40))
    ]


def _compare(spark, path, tag) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["text_bpe_train_batched"](
            spark, str(path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["text_bpe_train_batched"]).fetchall()
    )
    assert got == want, f"seed {tag}: batched BPE diverges ({len(got)} vs {len(want)})"


@pytest.mark.parametrize("seed", SEEDS)
def test_batched_bpe_matches_oracle(spark, tmp_path, seed):
    _write_docs(_seed_docs(seed), tmp_path)
    _compare(spark, tmp_path, seed)


def test_conflicting_pair_defers_to_next_round(spark, tmp_path):
    """'qy' x10 and 'yz' x9: (q,y) outranks (y,z), which shares y and
    must DEFER; round 2's state still contains the yz adjacency, so the
    deferred pair is learned there — round numbers pin the defer."""
    rows = [(i, "qy") for i in range(10)] + [(10 + i, "yz") for i in range(9)]
    _write_docs(rows, tmp_path)
    out = registry.QUERIES["text_bpe_train_batched"](spark, str(tmp_path)).collect()
    by_merge = {r["merged"]: r for r in out}
    assert by_merge["qy"]["round"] == 1
    assert by_merge["yz"]["round"] == 2, by_merge["yz"]
    _compare(spark, tmp_path, "conflict")


def test_round_trips_drop_m_fold_at_equal_vocab(spark, tmp_path):
    """The ordered A/B: 12 token-disjoint pairs (one per 2-char word,
    equal counts, tie-break order) are learned in exactly 3 rounds of
    m=4 — one bounded collect per round — where the sequential trainer
    pays 12 round-trips for the same vocab."""
    words = ["ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st",
             "uv", "wx"]
    rows = [(i, " ".join(words)) for i in range(5)]
    _write_docs(rows, tmp_path)
    out = registry.QUERIES["text_bpe_train_batched"](spark, str(tmp_path)).collect()
    assert len(out) == 12
    assert max(r["round"] for r in out) == 3
    assert sorted(r["merged"] for r in out) == sorted(words)
    # each round carries a full batch of m=4 slots
    from collections import Counter

    assert Counter(r["round"] for r in out) == {1: 4, 2: 4, 3: 4}
    _compare(spark, tmp_path, "ab12")
