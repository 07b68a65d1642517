"""Fuzz family 54: r13 incremental SEMANTIC dedup (embedding index).

``dedup_incremental_embedding`` probes tonight's delta (vec_id % 10 == 0)
against the persisted sign-LSH code index + norm-precomputed vector store
over the standing corpus; ``dedup_embedding_index_append`` appends the
ACCEPTED delta (no verified cosine ≥ 0.4 match) into both tables and
re-probes the full delta — the vector twin of fuzz family 51's minhash
cycle.  Seeded shapes:

* accepted vectors self-flag after the append (new_id = idx_id,
  cosine 1.0, idx_src 'appended');
* rejected vectors (verified corpus match) are never appended — no self
  row, 'corpus' rows only;
* an accepted intra-delta near-dup pair flags BOTH directions as
  'appended' (the two-nightly-cycle shape);
* delta-only / corpus-only corpora, planted near-dups, random normals.

Every seed stays below _DEDUP_COS_EXACT_N, so the candidate rule is the
EXACT all-pairs branch and row-set equality is strict; the banded branch
of the shared codes law is fuzzed by family 24 (test_fuzz_cos_dedup) and
exercised end-to-end for these two operators by the /tmp/sf1_stress
replica (20 000 vectors, bits > 0, hash-green r13).  Each seed's tmp dir
gets fresh index tables (the layout token keys on path+mtime), so the
published two-table build runs for real every seed; the crash-recovery
and O(|accepted|) file-level pins are directed tests.
"""

from __future__ import annotations

import os
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


def _write_embeddings(rows, path) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )


def _corpus(seed: int):
    rng = np.random.default_rng(54000 + seed)
    pyrng = random.Random(54000 + seed)
    mode = pyrng.choice(["mixed"] * 3 + ["delta_only", "corpus_only"])
    dim = pyrng.choice([4, 8, 16, 32])
    n = pyrng.randint(3, 60)
    ids: list[int] = []
    k = 0
    for _ in range(n):
        want_delta = (
            True
            if mode == "delta_only"
            else False
            if mode == "corpus_only"
            else pyrng.random() < 0.4
        )
        while True:
            k += 1
            if (k % 10 == 0) == want_delta:
                break
        ids.append(k)
    mat = rng.standard_normal((n, dim)).astype("float32")
    # plant near-dups across the delta/corpus split AND inside the delta
    for _ in range(max(2, n // 10)):
        i, j = pyrng.randrange(n), pyrng.randrange(n)
        if i != j:
            mat[j] = mat[i] + rng.standard_normal(dim).astype("float32") * 0.03
    return [(ids[i], [float(x) for x in mat[i]]) for i in range(n)]


def _compare(spark, path, name: str, tag) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{path}/embeddings.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {tag}: {name} diverges ({len(got)} vs {len(want)})"


@pytest.mark.parametrize("seed", SEEDS)
def test_embed_index_matches_oracle(spark, tmp_path, seed):
    _write_embeddings(_corpus(seed), tmp_path)
    _compare(spark, tmp_path, "dedup_incremental_embedding", seed)
    _compare(spark, tmp_path, "dedup_embedding_index_append", seed)
    if seed % 4 == 0:
        # compaction rider: the re-probe against the COMPACTED index
        # must match the same oracle row-for-row (lossless fold)
        _compare(spark, tmp_path, "dedup_embedding_index_compact", seed)


def _directed_rows():
    return [
        (7, [1.0, 0.0, 0.0, 0.0]),      # corpus
        (9, [-1.0, 0.1, 0.0, 0.0]),     # corpus, anti-aligned with 7
        (10, [0.99, 0.05, 0.0, 0.0]),   # delta: REJECTED (near-dup of 7)
        (20, [0.0, 1.0, 0.0, 0.0]),     # delta: accepted
        (30, [0.0, 0.99, 0.05, 0.0]),   # delta: accepted, near-dup of 20
        (40, [0.0, 0.0, 0.0, 1.0]),     # delta: accepted, isolated
    ]


def test_accepted_vectors_become_standing_corpus(spark, tmp_path):
    """The family-51 pins, vector edition: after the append a re-probe
    flags the previously-accepted vectors — as self-matches AND against
    each other for an accepted intra-delta near-dup pair — while the
    rejected vector stays corpus-flagged and is never appended."""
    _write_embeddings(_directed_rows(), tmp_path)
    out = registry.QUERIES["dedup_embedding_index_append"](
        spark, str(tmp_path)
    ).collect()
    got = {(r["new_id"], r["idx_id"]): (r["idx_src"], r["cosine"]) for r in out}
    for d in (20, 30, 40):
        assert got.get((d, d)) == ("appended", 1.0), d
    assert got.get((20, 30), ("", 0))[0] == "appended"
    assert got.get((30, 20), ("", 0))[0] == "appended"
    assert got[(20, 30)][1] > 0.99
    # the rejected vector: no self row (never appended), corpus row only
    assert (10, 10) not in got
    assert got.get((10, 7), ("", 0))[0] == "corpus"
    assert got[(10, 7)][1] > 0.99
    # isolated accepted vector matches nothing but itself
    assert [k for k in got if k[0] == 40] == [(40, 40)]
    _compare(spark, tmp_path, "dedup_embedding_index_append", "directed")


def test_append_cost_is_delta_sized(spark, tmp_path):
    """O(|accepted|) evidence for BOTH tables: group each post-append
    table's parquet files by write job — the appended job's rows must
    equal the accepted vectors' rows exactly (codes: x bands; vectors:
    x 1), and the seed job must equal the standing corpus rows: the
    append never rewrites corpus files."""
    from duckdb_postgis_spark.operators.llm import (
        ensure_embedding_index,
        ensure_embedding_index2,
    )
    from duckdb_postgis_spark.plans import layout

    _write_embeddings(_directed_rows(), tmp_path)
    c1, v1 = ensure_embedding_index(spark, str(tmp_path))
    n_c1, n_v1 = c1.count(), v1.count()
    c2, v2 = ensure_embedding_index2(spark, str(tmp_path))
    tok = layout._token(str(tmp_path), "embeddings")

    def job_counts(tbl: str) -> list[int]:
        d = f"{layout._LAYOUT_ROOT}/{tbl}"
        by_job: dict[str, list[str]] = {}
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                job = f.split("-", 2)[2].split("_")[0].split(".")[0]
                by_job.setdefault(job, []).append(f"{d}/{f}")
        assert len(by_job) == 2, f"{tbl}: expected seed+append jobs"
        return sorted(
            spark.read.parquet(*files).count() for files in by_job.values()
        )

    # accepted = {20, 30, 40}; bands = 1 at this scale (bits = 0)
    assert job_counts(f"embed_index2_codes_{tok}") == sorted([3, n_c1])
    assert job_counts(f"embed_index2_vecs_{tok}") == sorted([3, n_v1])
    assert c2.count() == n_c1 + 3
    assert v2.count() == n_v1 + 3


def test_interrupted_build_recovers(spark, tmp_path, monkeypatch):
    """Publish-contract pin for two-table builds (layout.ensure_tables):
    a build that raises between its writes leaves no table directory, no
    catalog entry and no sibling, and the next call builds both tables
    completely.  Wiping one or both directories of a live generation
    rebuilds exactly what is missing, with unchanged rows."""
    import shutil

    from duckdb_postgis_spark.operators.llm import ensure_embedding_index2
    from duckdb_postgis_spark.plans import layout

    root = tmp_path / "layout"
    monkeypatch.setattr(layout, "_LAYOUT_ROOT", str(root))
    _write_embeddings(_directed_rows(), tmp_path)
    tok = layout._token(str(tmp_path), "embeddings")

    # the shared helper: a build that dies after its first write
    # publishes nothing, and the next call builds BOTH tables
    tables = {f"ensure_a_{tok}": ("band",), f"ensure_b_{tok}": ("vec_id",)}
    rows = spark.range(40).selectExpr("id AS vec_id", "id % 5 AS band")

    def crash(a, b) -> None:
        a(rows)
        assert [f for f in root.iterdir() if ".tmp." in f.name]  # a's sibling
        raise RuntimeError("interrupted build")

    with pytest.raises(RuntimeError, match="interrupted build"):
        layout.ensure_tables(spark, tables, crash)
    assert list(root.iterdir()) == []
    assert not [t.name for t in spark.catalog.listTables() if tok in t.name]
    ta, tb = layout.ensure_tables(spark, tables, lambda a, b: (a(rows), b(rows)))
    assert (ta.count(), tb.count()) == (40, 40)
    assert sorted(f.name for f in root.iterdir()) == sorted(tables)

    # a real generation: one wiped directory, then both
    ct, vt = f"embed_index2_codes_{tok}", f"embed_index2_vecs_{tok}"
    c2, v2 = ensure_embedding_index2(spark, str(tmp_path))
    n_c, n_v = c2.count(), v2.count()
    for wiped in ((vt,), (ct, vt)):
        for t in wiped:
            shutil.rmtree(root / t)
        c2b, v2b = ensure_embedding_index2(spark, str(tmp_path))
        assert (c2b.count(), v2b.count()) == (n_c, n_v)
        _compare(spark, tmp_path, "dedup_embedding_index_append", wiped)
    assert not [f for f in root.iterdir() if ".tmp." in f.name]


def test_probe_plan_is_index_colocated(spark, tmp_path):
    """Plan pin: the probe join reads the codes table bucket-wise — the
    executed plan must show the bucketed scan and no Exchange directly
    above the index-side scan (the ensure_minhash_index convention)."""
    _write_embeddings(_directed_rows(), tmp_path)
    df = registry.QUERIES["dedup_incremental_embedding"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan[:2000]


def test_index_compaction_folds_bucket_files(spark, tmp_path):
    """File-level compaction pin, vector edition: the appended
    generation holds TWO write jobs' files in each table; the compacted
    generation holds ONE job per table, with identical row counts and
    identical probe results."""
    from duckdb_postgis_spark.operators.llm import (
        ensure_embedding_index2,
        ensure_embedding_index_compacted,
    )
    from duckdb_postgis_spark.plans import layout

    _write_embeddings(_directed_rows(), tmp_path)
    c2, v2 = ensure_embedding_index2(spark, str(tmp_path))
    c3, v3 = ensure_embedding_index_compacted(spark, str(tmp_path))
    assert (c3.count(), v3.count()) == (c2.count(), v2.count())
    tok = layout._token(str(tmp_path), "embeddings")

    def jobs(tbl: str) -> set[str]:
        d = f"{layout._LAYOUT_ROOT}/{tbl}"
        return {
            f.split("-", 2)[2].split("_")[0]
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    for prefix in ("codes", "vecs"):
        assert len(jobs(f"embed_index2_{prefix}_{tok}")) == 2, prefix
        assert len(jobs(f"embed_index3_{prefix}_{tok}")) == 1, prefix
    out = registry.QUERIES["dedup_embedding_index_compact"](
        spark, str(tmp_path)
    ).collect()
    base = registry.QUERIES["dedup_embedding_index_append"](
        spark, str(tmp_path)
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, base))
