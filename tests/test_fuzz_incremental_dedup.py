"""Fuzz family 48: r11 incremental new-batch-vs-index dedup.

``dedup_incremental_minhash`` splits documents into a standing INDEX
(doc_id % 10 != 0) and tonight's DELTA (doc_id % 10 == 0) and probes the
delta against a persisted bucketed band-signature index.  Seeded shapes:

* verbatim duplicates planted ACROSS the batch boundary (a delta doc that
  copies an indexed doc — the exact case the nightly probe exists for);
* near-duplicates (one word perturbed) across the boundary;
* INTRA-delta duplicates (two delta docs copying each other — must NOT be
  flagged: that is the batch-local dedup_minhash_lsh pass's job);
* delta-only and index-only corpora (empty output pinned from both ends);
* docs under 3 words (shingle floor: silently absent from signatures).

40 seeded corpora over real parquet, compared row-for-row against the
registered DuckDB oracle — the same harness the driver uses.  Each seed's
tmp dir gets its own index table (the layout token keys on path+mtime),
so the persisted-index path is exercised fresh every time.
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
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "drift", "shard", "vector", "corpus", "the", "of",
]


def _write_docs(seed: int, path) -> None:
    rng = random.Random(48000 + seed)
    mode = rng.choice(["mixed", "mixed", "mixed", "delta_only", "index_only"])
    n_docs = rng.randint(2, 30)
    vocab = _WORDS[: rng.randint(4, len(_WORDS))]
    rows = []

    def next_id(want_delta: bool, k: int) -> int:
        # k walks upward; pick the first id in the wanted residue class
        while True:
            k += 1
            if (k % 10 == 0) == want_delta:
                return k

    k = 0
    texts: list[tuple[int, str]] = []
    for _ in range(n_docs):
        if mode == "delta_only":
            want_delta = True
        elif mode == "index_only":
            want_delta = False
        else:
            want_delta = rng.random() < 0.4
        k = next_id(want_delta, k)
        shape = rng.choice(["normal", "normal", "tiny", "copy", "near"])
        if shape == "tiny":
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 2))]
        elif shape in ("copy", "near") and texts:
            # copy an EARLIER doc (either side of the boundary — the
            # cross-boundary case is the operator's point, the
            # intra-delta case pins the NOT-flagged contract)
            src_words = rng.choice(texts)[1].split(" ")
            words = list(src_words)
            if shape == "near" and len(words) >= 4:
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        text = " ".join(words)
        texts.append((k, text))
        rows.append((k, text, "en", "src1", len(text)))

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
        for r in registry.QUERIES["dedup_incremental_minhash"](
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
        for r in con.execute(
            registry.ORACLES["dedup_incremental_minhash"]
        ).fetchall()
    )
    assert got == want, f"seed {seed}: dedup_incremental_minhash diverges"


@pytest.mark.parametrize("seed", SEEDS)
def test_incremental_minhash_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, seed)


def test_cross_boundary_dup_flagged_intra_delta_not(spark, tmp_path):
    """A delta doc copying an INDEXED doc must surface with est_jaccard
    1.0; two delta docs copying each other must NOT appear (intra-batch
    dedup is the batch-local pass's contract, not the index probe's)."""
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (7, body, "en", "src1", len(body)),          # index
        (10, body, "en", "src1", len(body)),         # delta: dup of 7
        (20, "drift shard vector corpus the of one", "en", "src1", 38),  # delta
        (30, "drift shard vector corpus the of one", "en", "src1", 38),  # delta: dup of 20
        (11, "unrelated words entirely different text here", "en", "src1", 44),
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
    out = registry.QUERIES["dedup_incremental_minhash"](
        spark, str(tmp_path)
    ).collect()
    pairs = {(r["new_id"], r["idx_id"]): r["est_jaccard"] for r in out}
    assert pairs.get((10, 7)) == 1.0
    assert not any(n in (20, 30) and i in (20, 30) for (n, i) in pairs)
    _compare(spark, tmp_path, "directed")
