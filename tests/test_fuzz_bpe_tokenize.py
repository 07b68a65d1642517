"""Fuzz family 49: r11 deterministic greedy subword tokenizer.

``text_bpe_tokenize`` folds a greedy longest-match walk over a fixed
vocab inside Catalyst; the oracle replays the SAME walk as a DuckDB
recursive CTE.  Seeded corpora are built to be vocab-adversarial:

* words that ARE vocab entries (one token), and greedy traps where the
  longest-prefix choice diverges from the optimal segmentation
  ("tablet" -> "table"+"t", never "tab"+"le"+"t");
* unknown-character runs (digits, punctuation, a multibyte 'é' — the
  char-based length/substr contract must agree across engines);
* concatenations of vocab tokens with no separator, empty tokens from
  double spaces (0-length words drop on both sides), and words repeated
  many times within a doc (the distinct-word walk must rejoin counts
  per occurrence).

40 seeded corpora over real parquet, compared row-for-row against the
registered DuckDB oracle — the same harness the driver uses.
"""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry
from duckdb_postgis_spark.operators.llm import _BPE_VOCAB

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)
_UNK = list("0123456789-_.é#")


def _word(rng: random.Random) -> str:
    kind = rng.choice(["vocab", "concat", "trap", "unk", "mixed"])
    if kind == "vocab":
        return rng.choice(_BPE_VOCAB)
    if kind == "concat":
        return "".join(rng.choice(_BPE_VOCAB) for _ in range(rng.randint(2, 4)))
    if kind == "trap":
        # a vocab token plus a 1-2 char tail that extends no vocab entry
        return rng.choice(_BPE_VOCAB) + "".join(
            rng.choice(_UNK) for _ in range(rng.randint(1, 2))
        )
    if kind == "unk":
        return "".join(rng.choice(_UNK) for _ in range(rng.randint(1, 8)))
    return "".join(
        rng.choice(_UNK) if rng.random() < 0.4 else rng.choice(_BPE_VOCAB)
        for _ in range(rng.randint(1, 5))
    )


def _write_docs(seed: int, path) -> None:
    rng = random.Random(49000 + seed)
    rows = []
    for d in range(1, rng.randint(2, 20) + 1):
        words = [_word(rng) for _ in range(rng.randint(1, 20))]
        if rng.random() < 0.3 and len(words) >= 2:
            words.insert(rng.randrange(len(words)), rng.choice(words))  # repeats
        sep = "  " if rng.random() < 0.2 else " "  # empty tokens sometimes
        text = sep.join(words)
        rows.append((d, text, "en", f"src{rng.randint(1, 3)}", len(text)))
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


def _compare(spark, path, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["text_bpe_tokenize"](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["text_bpe_tokenize"]).fetchall()
    )
    assert got == want, f"seed {seed}: text_bpe_tokenize diverges"


@pytest.mark.parametrize("seed", SEEDS)
def test_bpe_tokenize_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, seed)


def test_bpe_greedy_walk_is_longest_match(spark, tmp_path):
    """Directed: pinned segmentations.  'tablet' = table+t (2), never
    tab+le+t; 'thee' = the+e (2); 'xyz#9' = five single-char fallbacks;
    'scanscan' = scan+scan (2); 'é' = one fallback token (char-based,
    not byte-based)."""
    rows = [
        (1, "tablet thee scanscan", "en", "src1", 20),
        (2, "xyz#9 é", "en", "src1", 7),
    ]
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
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["text_bpe_tokenize"](spark, str(tmp_path)).collect()
    }
    assert out[1]["n_words"] == 3
    assert out[1]["n_bpe_tokens"] == 2 + 2 + 2
    assert out[2]["n_words"] == 2
    assert out[2]["n_bpe_tokens"] == 5 + 1
    _compare(spark, tmp_path, "directed")


@pytest.mark.parametrize("seed", SEEDS)
def test_seq_pack_bpe_matches_oracle(spark, tmp_path, seed):
    """r11 rider: tokenizer-true packing over the same vocab-adversarial
    corpora — the per-source running fill must agree with the recursive
    walk's counts, including docs whose whitespace and subword budgets
    diverge hard (concat/unk shapes)."""
    _write_docs(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["seq_pack_bpe"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["seq_pack_bpe"]).fetchall()
    )
    assert got == want, f"seed {seed}: seq_pack_bpe diverges"
