"""Fuzz family 38: BM25 search + hard-negative mining, differential.

* ``text_bm25_search``: 40 seeded document corpora from a small vocab —
  docs missing every query term (must not appear), zero-token docs
  (punctuation-only — dl undefined, doc can never match), high-tf spam
  docs (saturation must rank them identically cross-engine), and
  corpora where fewer than 10 docs match (top-k under-full).  The
  ranking is compared row-for-row against the DuckDB oracle, which
  recomputes idf/avgdl/saturation through its own SQL arithmetic.

* ``sample_hard_negative_mining``: 40 seeded embedding corpora —
  label pools of size 1 (every anchor's negatives are... nobody:
  single-label corpus pins the exactly-empty output), NULL labels
  (excluded on both sides — the numpy NaN != NaN trap), anchors-only
  and no-anchor corpora, and duplicate vectors (cosine ties break to
  lowest neg_id).
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

_VOCAB = [
    "spark", "merge", "vector", "join", "scan", "filter", "table", "row",
    "batch", "query", "the", "a", "data",
]


def _write_docs(seed: int, path) -> None:
    rng = random.Random(38000 + seed)
    n_docs = rng.randint(3, 40)
    rows = []
    for d in range(n_docs):
        shape = rng.choice(["normal", "no_query_terms", "zero_tokens", "spam"])
        if shape == "zero_tokens":
            text = "!!! 123 ???"
        elif shape == "no_query_terms":
            pool = [w for w in _VOCAB if w not in ("spark", "merge", "vector")]
            text = " ".join(rng.choices(pool, k=rng.randint(1, 30)))
        elif shape == "spam":
            term = rng.choice(["spark", "merge", "vector"])
            text = " ".join([term] * rng.randint(10, 60))
        else:
            text = " ".join(rng.choices(_VOCAB, k=rng.randint(1, 50)))
        rows.append((d, text))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["fuzz"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        path / "documents.parquet",
    )


def _write_embeddings(seed: int, path) -> None:
    rng = random.Random(38500 + seed)
    n = rng.randint(4, 120)
    dim = rng.choice([4, 8, 16])
    n_labels = rng.choice([1, 1, 2, 3, 5])
    rows = []
    for i in range(n):
        # vec_id stride ensures some seeds have several anchors
        # (vec_id % 97 == 0), some exactly one, some none
        vid = i * rng.choice([1, 7, 97])
        if rng.random() < 0.1:
            lab = None  # excluded on both sides
        else:
            lab = rng.randrange(n_labels)
        if rng.random() < 0.15 and rows:
            vec = rows[rng.randrange(len(rows))][1]  # duplicate: cosine tie
        else:
            vec = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((vid, vec, lab))
    # unique vec_ids (duplicates in id break ROW_NUMBER determinism)
    seen, uniq = set(), []
    for vid, vec, lab in rows:
        while vid in seen:
            vid += 1
        seen.add(vid)
        uniq.append((vid, vec, lab))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in uniq], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in uniq], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in uniq], pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        f = path / f"{t}.parquet"
        if f.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')"
            )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", range(40))
def test_bm25_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "text_bm25_search", seed)


@pytest.mark.parametrize("seed", range(40))
def test_hard_negatives_match_oracle(spark, tmp_path, seed):
    _write_embeddings(seed, tmp_path)
    _compare(spark, tmp_path, "sample_hard_negative_mining", seed)


def test_single_label_corpus_is_empty(spark, tmp_path):
    """One label everywhere: no wrong-label candidates exist, so the
    output is exactly empty — the all-same-lang precedent from the
    cross-lingual dedup family."""
    rng = random.Random(38999)
    rows = [
        (i * 97, [rng.uniform(-1, 1) for _ in range(8)], 1) for i in range(12)
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    out = registry.QUERIES["sample_hard_negative_mining"](
        spark, str(tmp_path)
    ).collect()
    assert out == []


@pytest.mark.parametrize("seed", range(20))
def test_pipeline_embedding_e2e_matches_oracle(spark, tmp_path, seed):
    """pipeline_embedding_e2e rides combined family-38 corpora: the docs
    generator supplies the n_chars gate's population (doc_id aligned to
    vec_id by construction below) and the embeddings generator the dedup
    corpus — covering empty-after-filter labels, all-dup labels
    (duplicate vectors), and labels whose every member is dropped."""
    rng = random.Random(38800 + seed)
    n = rng.randint(4, 80)
    dim = rng.choice([4, 8])
    vids, vecs, labs, texts = [], [], [], []
    for i in range(n):
        vids.append(i)
        if rng.random() < 0.2 and vecs:
            vecs.append(vecs[rng.randrange(len(vecs))])  # exact dup
        else:
            vecs.append([rng.uniform(-1, 1) for _ in range(dim)])
        labs.append(rng.randrange(3))
        texts.append("x" * rng.randint(50, 600))  # n_chars straddles the gate
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labs, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(vids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["fuzz"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    _compare(spark, tmp_path, "pipeline_embedding_e2e", seed)


# -- family-38 rider: filtered vector search (round-10 continuation) -------
def _write_filtered_corpus(seed: int, path) -> None:
    """Docs + id-aligned embeddings with a lang/n_chars predicate surface:
    seeds where the filter leaves fewer than k survivors (under-filled
    top-k must agree), exactly zero survivors (empty output), and
    boundary n_chars == 200 hits (>= is inclusive on both engines)."""
    rng = random.Random(38900 + seed)
    n = rng.randint(1, 60)
    sel = rng.choice(["normal", "starved", "empty_after_filter", "boundary"])
    drows, erows = [], []
    erows.append((0, [rng.uniform(-1, 1) for _ in range(8)], 0))  # query vec
    for d in range(1, n + 1):
        if sel == "empty_after_filter":
            lang = "de"
        elif sel == "starved":
            lang = "en" if d <= 3 else "de"
        else:
            lang = rng.choice(["en", "de"])
        n_chars = 200 if sel == "boundary" else rng.randint(0, 600)
        drows.append((d, "t " * 5, lang, "fuzz", n_chars))
        erows.append((d, [rng.uniform(-1, 1) for _ in range(8)], 0))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in drows], pa.int64()),
                "text": pa.array([r[1] for r in drows], pa.string()),
                "lang": pa.array([r[2] for r in drows], pa.string()),
                "source": pa.array([r[3] for r in drows], pa.string()),
                "n_chars": pa.array([r[4] for r in drows], pa.int64()),
            }
        ),
        path / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in erows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in erows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in erows], pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )


@pytest.mark.parametrize("seed", range(40))
def test_filtered_search_matches_oracle(spark, tmp_path, seed):
    _write_filtered_corpus(seed, tmp_path)
    _compare(spark, tmp_path, "similarity_search_filtered", seed)


@pytest.mark.parametrize("seed", range(40))
def test_binary_search_matches_oracle(spark, tmp_path, seed):
    """Sign-bit packing + Hamming ranking over the filtered-corpus seeds
    (variable dims never exceed 8 here — the sub-32-bit word path; exact
    zeros hit the >= 0 sign rule on both engines)."""
    _write_filtered_corpus(seed, tmp_path)
    _compare(spark, tmp_path, "similarity_search_binary", seed)
