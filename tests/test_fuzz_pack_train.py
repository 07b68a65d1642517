"""Fuzz family 50: r12 packing metrics / FFD packer / BPE vocab training.

Three operators over seeded documents corpora, each compared row-for-row
against its registered DuckDB oracle (the driver's harness):

* ``seq_pack_metrics`` — fill/waste/split-doc report of the contiguous
  packer; seeds vary source counts and doc lengths so boundary docs land
  on every edge (doc exactly filling a bin, doc spanning 2+ bins).
* ``seq_pack_ffd`` — first-fit-decreasing fold; seeds include OVERSIZED
  docs (> 512 tokens, must open a bin of their own), equal-length tie
  runs (doc_id tie-break), and >256-doc sources (chunk boundary).
* ``text_bpe_train`` — the k-round merge loop; seeds use tiny vocabs and
  repeated letters ('aaaa') so pair-count TIES and chain merges
  (left-to-right non-overlapping replace) are exercised, plus words that
  fail the ^[a-z0-9]+$ gate (must be ignored identically) and all-1-char
  corpora (zero learnable merges -> early break on both engines).
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
    "alpha", "beta", "gamma", "delta", "aaaa", "aaa", "aa", "a",
    "table", "scan", "the", "of", "ab", "ba", "abab", "Bad-Word!", "é",
]


def _write_docs(seed: int, path) -> None:
    rng = random.Random(50000 + seed)
    n_sources = rng.randint(1, 4)
    n_docs = rng.randint(1, 300 if seed % 5 == 0 else 40)
    vocab = _WORDS[: rng.randint(3, len(_WORDS))]
    rows = []
    for i in range(n_docs):
        shape = rng.choice(["normal", "normal", "normal", "long", "tiny"])
        if shape == "long":
            n = rng.randint(500, 700)  # oversized vs the 512 FFD budget
        elif shape == "tiny":
            n = rng.randint(1, 3)
        else:
            n = rng.randint(4, 60)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        rows.append((i, text, "en", f"src{rng.randrange(n_sources)}", len(text)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        path / "documents.parquet",
    )


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} diverges"


@pytest.mark.parametrize("seed", SEEDS)
def test_pack_and_train_match_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    for name in ("seq_pack_metrics", "seq_pack_ffd", "text_bpe_train"):
        _compare(spark, tmp_path, name, seed)
    if seed % 4 == 0:  # train-then-tokenize rider (recursive walk is slow)
        _compare(spark, tmp_path, "text_bpe_train_apply", seed)


def test_ffd_never_splits_and_respects_budget(spark, tmp_path):
    """Directed pins: every FFD bin's total stays within the 512 budget
    unless it holds a single oversized doc; no doc appears twice."""
    rng = random.Random(7)
    rows = []
    for i in range(60):
        n = 600 if i % 17 == 0 else rng.randint(10, 200)
        rows.append((i, " ".join(["tok"] * n), "en", f"src{i % 2}", 3 * n))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    out = registry.QUERIES["seq_pack_ffd"](spark, str(tmp_path)).collect()
    assert len({r["doc_id"] for r in out}) == len(out) == 60
    loads: dict[tuple, list[int]] = {}
    for r in out:
        loads.setdefault((r["source"], r["chunk"], r["bin_id"]), []).append(
            r["n_tokens"]
        )
    for key, sizes in loads.items():
        assert sum(sizes) <= 512 or len(sizes) == 1, key
    _compare(spark, tmp_path, "seq_pack_ffd", "directed")


def test_learned_vocab_feeds_greedy_fold(spark, tmp_path):
    """The r11 judge's 'done' bar for vocab training: the learned merge
    list must feed the existing greedy tokenizer fold UNCHANGED.  Build
    the vocab as (learned merged tokens + their single chars), tokenize
    a sample with _bpe_token_count_sql(vocab_sql=...), and pin that
    every count is positive and <= the char count (merges only shorten)."""
    from pyspark.sql import functions as F

    from duckdb_postgis_spark.operators.llm import _bpe_token_count_sql

    _write_docs(3, tmp_path)
    merges = registry.QUERIES["text_bpe_train"](spark, str(tmp_path)).collect()
    assert merges, "training corpus must learn at least one merge"
    learned = sorted({m["merged"] for m in merges})
    chars = sorted({c for m in learned for c in m})
    vocab_sql = "array(" + ", ".join(f"'{v}'" for v in learned + chars) + ")"
    sample = (
        spark.read.parquet(f"{tmp_path}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .select(
            "word",
            F.expr(_bpe_token_count_sql("word", vocab_sql=vocab_sql)).alias("c"),
            F.length("word").alias("n"),
        )
        .collect()
    )
    assert sample
    for r in sample:
        assert 0 < r["c"] <= r["n"], r
