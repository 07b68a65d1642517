"""ANN scale-path quality: LSH-bucketed approximate results vs exact.

Round-7: the registered ANN queries now EMIT their quality contract (exact
top-k + oracle-pinned recall booleans — the agg_approx_distinct pattern), so
the driver hash-checks recall every round.  These tests keep the floors
pinned locally against the INTERNAL approximate plans (the registered
wrappers delegate to them) plus determinism and degenerate-input behavior
the driver can't see.
"""

from __future__ import annotations

import os

import pytest

from duckdb_postgis_spark import registry
from duckdb_postgis_spark.operators import llm

registry.load_all()

#: every shipped scale the registered recall floors must hold at
SCALES = ["sf0.001", "sf0.01", "sf0.1"]


def _scale_dir(sf_dir: str, sf: str) -> str:
    return os.path.join(os.path.dirname(sf_dir), sf)


def _pairs(df):
    return {(r.a_id, r.b_id) for r in df.collect()}


@pytest.mark.parametrize("sf", SCALES)
def test_knn_ivf_lsh_recall(spark, sf_dir, sf):
    d = _scale_dir(sf_dir, sf)
    exact = _pairs(registry.QUERIES["knn_cosine_topk"](spark, d))
    approx = _pairs(llm._knn_ivf_lsh_approx(spark, d))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"pair recall@20 {recall}"


def test_knn_ivf_lsh_registered_pins_recall(spark, sf_dir):
    """The registered query's output = exact pairs + recall_ge_08 TRUE."""
    rows = registry.QUERIES["knn_ivf_lsh"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.recall_ge_08 for r in rows)
    exact = _pairs(registry.QUERIES["knn_cosine_topk"](spark, sf_dir))
    assert {(r.a_id, r.b_id) for r in rows} == exact


@pytest.mark.parametrize("sf", SCALES)
def test_similarity_search_ann_recall(spark, sf_dir, sf):
    d = _scale_dir(sf_dir, sf)
    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, d).collect()}
    approx = {r.vec_id for r in llm._similarity_search_ann_approx(spark, d).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"query recall@10 {recall}"


@pytest.mark.parametrize(
    "approx", [llm._knn_ivf_lsh_approx, llm._similarity_search_ann_approx]
)
def test_lsh_arms_run_no_python(spark, sf_dir, approx):
    """Both approximate LSH arms band through _embed_codes and re-rank in
    the JVM: their executed plans hold no Python node (no *EvalPython,
    *InPandas or MapInArrow)."""
    df = approx(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not any(k in plan for k in ("Python", "InPandas", "InArrow")), plan


def test_knn_ivf_lsh_deterministic(spark, sf_dir):
    a = llm._knn_ivf_lsh_approx(spark, sf_dir).collect()
    b = llm._knn_ivf_lsh_approx(spark, sf_dir).collect()
    assert a == b


def test_similarity_search_ivf_recall(spark, sf_dir):
    # testdata embeddings are near-uniform random — the worst case for a
    # coarse quantizer — so nprobe=12/16 for a deterministic 0.9 recall
    # (observed at sf0.001/0.01/0.1); clustered embeddings prune far harder
    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, sf_dir).collect()}
    approx = {r.vec_id for r in llm._similarity_search_ivf_approx(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"query recall@10 {recall}"


def test_similarity_search_ivf_deterministic(spark, sf_dir):
    a = llm._similarity_search_ivf_approx(spark, sf_dir).collect()
    b = llm._similarity_search_ivf_approx(spark, sf_dir).collect()
    assert a == b


def test_registered_search_queries_pin_true(spark, sf_dir):
    """Each registered search variant emits the exact top-10 plus its
    pinned-TRUE property columns — the shape the DuckDB oracle hashes."""
    exact = [
        tuple(r)
        for r in registry.QUERIES["similarity_search_query"](spark, sf_dir).collect()
    ]
    for name, flags in [
        ("similarity_search_ann", ["recall_ge_06"]),
        ("similarity_search_ivf", ["recall_ge_08"]),
        ("similarity_search_quantized", ["recall_ge_09"]),
        ("similarity_search_ivf_pruned", ["recall_ge_08", "matches_unpruned_ivf"]),
    ]:
        rows = registry.QUERIES[name](spark, sf_dir).collect()
        assert {(r.vec_id, r.cosine) for r in rows} == set(exact), name
        for f in flags:
            assert all(r[f] for r in rows), (name, f)


def test_similarity_search_ivf_pruned_matches_unpruned(spark, sf_dir):
    # same quantizer + probes + re-rank → identical results to the
    # unpartitioned IVF path; the layout only changes WHAT IS READ
    from duckdb_postgis_spark.plans import layout

    a = [tuple(r) for r in llm._similarity_search_ivf_approx(spark, sf_dir).collect()]
    b = [
        tuple(r)
        for r in layout._similarity_search_ivf_pruned_approx(spark, sf_dir).collect()
    ]
    assert a == b


def test_ivf_recall_survives_content_ordered_ids(spark, sf_dir, tmp_path):
    """Round-2 advice: the quantizer trained on the FIRST 1024 rows by
    vec_id — biased whenever id correlates with content (crawl order).
    Adversarial check: reassign vec_id so id order IS content order
    (sorted by the first embedding component), then require the same
    pinned recall.  The hash-priority sample (_ivf_train_sample) is
    invariant to id<->content correlation; a head-of-table sample fails
    this on clustered data by construction."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    permuted = (
        emb.withColumn(
            "vec_id",
            F.row_number().over(
                Window.orderBy(F.col("embedding")[0], "vec_id")
            ) - 1,
        )
    )
    pdir = str(tmp_path / "sfperm")
    permuted.write.parquet(f"{pdir}/embeddings.parquet")

    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, pdir).collect()}
    approx = {r.vec_id for r in llm._similarity_search_ivf_approx(spark, pdir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"query recall@10 on content-ordered ids {recall}"


def test_similarity_search_quantized_recall(spark, sf_dir):
    # int8 quantization over 64 dims loses little ranking signal and the
    # 40-candidate exact re-rank recovers the rest — observed recall 1.0;
    # pin >= 0.9 to leave room for dimension/SF drift
    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, sf_dir).collect()}
    approx = {r.vec_id for r in llm._similarity_search_quantized_approx(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"query recall@10 {recall}"


def test_similarity_search_quantized_deterministic(spark, sf_dir):
    a = llm._similarity_search_quantized_approx(spark, sf_dir).collect()
    b = llm._similarity_search_quantized_approx(spark, sf_dir).collect()
    assert a == b


def test_similarity_search_quantized_constant_vector(spark, tmp_path):
    """A constant vector has max==min → quantizer scale 0.  Before the
    round-6 guard, (x - q_min)/scale produced NULL codes and the vector
    silently vanished from the candidate set even as a true top-10
    neighbor (round-5 advisor finding).  With code==0 the asymmetric
    formula degrades to the exact dot, so the constant vector must rank
    first here (cosine 1.0 against the constant query)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 8
    rows = [
        {"vec_id": 0, "embedding": [2.0] * dim},          # the query
        {"vec_id": 1, "embedding": [3.0] * dim},          # constant: scale==0
    ] + [
        {"vec_id": i, "embedding": [1.0 + (j % (i + 1)) for j in range(dim)]}
        for i in range(2, 14)
    ]
    t = pa.table(
        {
            "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r["embedding"] for r in rows], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    got = llm._similarity_search_quantized_approx(spark, str(tmp_path)).collect()
    assert got, "constant-vector corpus returned no rows"
    assert got[0].vec_id == 1, f"constant vector not ranked first: {got[:3]}"
    assert abs(got[0].cosine - 1.0) < 1e-9


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    """PC1 from distributed power iteration must align with numpy's exact
    eigendecomposition of the covariance-free Gram direction (|cos| >=
    0.99), and the Rayleigh eigenvalue estimate must be within 5% of
    numpy's top eigenvalue of X^T X."""
    import numpy as np

    v_list, lam = llm._pca_top_component(spark, sf_dir)
    v = np.array(v_list)

    X = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype="float64",
    )
    w, V = np.linalg.eigh(X.T @ X)
    top = V[:, np.argmax(w)]
    cos = abs(float(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top)))
    assert cos >= 0.99, cos
    assert abs(lam - w.max()) / w.max() < 0.05, (lam, w.max())


def test_pca_registered_properties(spark, sf_dir):
    """The registered PCA query emits the trace + pinned-TRUE properties
    (unit norm, eigen fixed point, Rayleigh bounds) — the oracle shape."""
    rows = registry.QUERIES["embed_pca_power_iteration"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.dims == 64
    assert r.trace > 0
    assert r.unit_norm_ok and r.eigen_residual_ok and r.rayleigh_in_bounds


def test_corpus_stats_reprobes_after_inplace_rewrite(tmp_path):
    """The footer-count cache must key on the staleness signature: the
    count selects the candidate-rule bit width (r8), so serving a stale n
    after an in-place rewrite would desynchronize the Spark plan from the
    live-COUNT(*) oracle."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_postgis_spark.operators.llm import _corpus_stats

    p = str(tmp_path / "embeddings.parquet")

    def write(n, dim):
        t = pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [[float(i)] * dim for i in range(n)], pa.list_(pa.float32())
                ),
            }
        )
        pq.write_table(t, p)

    write(10, 4)
    assert _corpus_stats(p) == (10, 4)
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    write(25, 8)
    assert _corpus_stats(p) == (25, 8)


def test_num_blocks_caps_rows_and_bytes():
    """Block count must bound the per-task OUTPUT matrix (rows²), not just
    input bytes: at the sf3 stress shape (60 k × 64-d) byte-sizing alone
    gave 4 blocks of 15 k rows → a 15 k² float64 sims matrix = 1.8 GB per
    task → python workers OOM-crash.  The row cap makes that 15 blocks of
    ≤4096 rows; at every driver/bench scale (n ≤ 4096·4) the cap term is
    dominated and the plan is unchanged."""
    from duckdb_postgis_spark.operators.llm import (
        _BLOCK_MAX_ROWS,
        _num_blocks,
    )

    # driver/bench scales: small-corpus floor of 4, unchanged by the cap
    assert _num_blocks(2000, 8) == 4
    assert _num_blocks(2000, 768) == 4
    # the measured crash shape: row cap takes over (was 4 before r8)
    assert _num_blocks(60_000, 64) == 15
    # byte term still governs when rows are few but vectors are fat
    assert _num_blocks(3000, 1_000_000) == 358  # ceil(3000*1e6*8/64MiB)
    # both scale together: neither term ever yields > _BLOCK_MAX_ROWS rows
    for n, dim in [(10_000, 16), (250_000, 64), (1_000_000, 512)]:
        import math

        assert math.ceil(n / _num_blocks(n, dim)) <= _BLOCK_MAX_ROWS


def test_similarity_search_pq_recall(spark, sf_dir):
    # 64-bit PQ codes (16 subspaces x 4-bit) + adaptive-depth exact
    # re-rank — observed recall 1.0 at sf0.001/0.01 and 0.8 at sf0.1;
    # pin the registered 0.6 floor locally with the same margin logic
    # as the oracle pin
    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, sf_dir).collect()}
    approx = {r.vec_id for r in llm._similarity_search_pq_approx(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"query recall@10 {recall}"


def test_similarity_search_pq_deterministic(spark, sf_dir):
    a = llm._similarity_search_pq_approx(spark, sf_dir).collect()
    b = llm._similarity_search_pq_approx(spark, sf_dir).collect()
    assert a == b


def test_similarity_search_pq_registered_pins_recall(spark, sf_dir):
    rows = registry.QUERIES["similarity_search_pq"](spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r.recall_ge_06 for r in rows)
    exact = {r.vec_id for r in registry.QUERIES["similarity_search_query"](spark, sf_dir).collect()}
    assert {r.vec_id for r in rows} == exact


def test_pq_candidate_depth_tracks_corpus():
    """The re-rank candidate pool must grow with the corpus (the fixed-
    depth failure mode: 100 candidates of 20k vectors starves recall).
    Formula pinned: max(100, n // 20)."""
    for n, want in [(500, 100), (2000, 100), (20000, 1000), (60000, 3000)]:
        assert max(100, n // 20) == want


def test_pq_codebook_deterministic_and_shaped(spark, sf_dir):
    emb = llm.table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    s = llm._ivf_train_sample(emb)
    a, b = llm._pq_train(s), llm._pq_train(s)
    import numpy as np

    assert a.shape == (llm._PQ_M, llm._PQ_K, s.shape[1] // llm._PQ_M)
    assert np.array_equal(a, b)


def test_num_blocks_parallelism_floor():
    """r13: group count must reach 2x defaultParallelism so the cogroup
    matmul saturates the cluster — the knn drift root cause was 15
    groups on 32 cores.  b(b+1)/2 >= 2P at the smallest such b; the
    floor composes with (never weakens) the byte/row caps."""
    from duckdb_postgis_spark.operators.llm import _num_blocks

    for p in (1, 8, 32, 256, 1000):
        b = _num_blocks(2000, 8, parallelism=p)
        assert b * (b + 1) // 2 >= 2 * p, (p, b)
        bm1 = b - 1
        assert b == 4 or bm1 * (bm1 + 1) // 2 < 2 * p or bm1 < 4, (p, b)
    # caps still dominate when they are stricter
    assert _num_blocks(60_000, 64, parallelism=8) == 15
    assert _num_blocks(2000, 8, parallelism=None) == 4
