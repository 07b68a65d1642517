"""Registry-wide plan lint: no query may silently plan a cross product or a
row-at-a-time Python UDF. The whitelisted exceptions are each the
*documented* semantics of their operator, not an accident:

- ``similarity_search_query``: cross join against a ONE-row broadcast query
  vector — a BroadcastNestedLoopJoin whose build side is a single row is a
  constant-attach, not a pair explosion (SURVEY L7).
- ``dedup_embedding_cosine``: the exact cosine-threshold pair semantics ARE
  all-pairs; the bounded-scale swap is ``knn_ivf_lsh`` (SURVEY 2.12d — the
  docstring commits to the LSH variant at scale).
- ``text_shingle_udtf``: exercises the Python UDTF API surface on purpose
  (SURVEY §2.12); UDTFs evaluate row-at-a-time by design.
- ``geo_haversine_radius``: broadcast cross join whose build side is one
  anchor row per region (5 rows at any SF) — a bounded constant-attach.
- ``text_tfidf_top_terms``: the corpus size N rides the plan as a broadcast
  ONE-row ungrouped aggregate (single-action rewrite, round 5) — physically
  "broadcast a scalar to every task"; Catalyst folds any constant join key,
  so BNLJ with a provably-1-row build side IS the minimal plan.

Everything else must be equi-join + codegen only. This caught a
BroadcastNestedLoopJoin hiding under the MinHash seed expansion
(crossJoin against a 32-row seed table) that explode(sequence(...))
eliminates.

The LSH arms (``knn_ivf_lsh``, ``similarity_search_ann``) band through
``_embed_codes``, the one (band, bucket) rule the dedup and index
families and the DuckDB oracle share: SQL arithmetic in codegen, no
pandas UDF (``tests/test_ann.py::test_lsh_arms_run_no_python``).  Their
whitelisting below is only the 1-row recall-pin attach.
"""

from __future__ import annotations

import pytest

from duckdb_postgis_spark import registry

registry.load_all()

ALLOWED_BNLJ = {
    "similarity_search_query",
    # same 1-row broadcast-query shape, over the quantized corpus
    "similarity_search_quantized",
    # bounded build side: one anchor row per region (5 at any SF) — the
    # broadcast cross join is a constant-attach, not a pair explosion
    "geo_haversine_radius",
    # build side is the FIXED polygon edge table (18 literal rows at any
    # SF) — every point must meet every edge by ray-cast definition; a
    # huge polygon overlay goes through the bbox-grid prefilter instead
    "geo_point_in_polygon",
    # broadcast dimension-attach (supplier dim, DIMENSIONS note in
    # catalog.py); the G8 grid rewrite is the documented scale path
    "geo_knn_join",
    # build side is an ungrouped count() aggregate — exactly 1 row at any SF
    "text_tfidf_top_terms",
    # same 1-row broadcast-N shape as tfidf (corpus token total)
    "text_unigram_likelihood",
    # r10 BM25: build side is the broadcast 1-row (nd, tot) corpus-stats
    # aggregate — the tfidf/unigram constant-attach shape; tf/df/dl joins
    # underneath are equi-joins only
    "text_bm25_search",
    # post-stream batch filter attaches a broadcast 1-row max(ts) aggregate
    # (the safe-cutoff literal) — 1-row build side, constant-attach
    "stream_stream_left_outer",
    "stream_session_live",
    # the Bloom sketch is a broadcast 1-row collect_set aggregate
    "join_semi_bloom_prefilter",
    # build side is an ungrouped count() over the missed-top-k anti-join —
    # exactly 1 row at any SF (the verification-harness attach)
    "agg_heavy_hitters_twophase",
    # round-7 pinned-recall wrappers (_pin_recall): build side is the 1×1
    # (n_hit, n_exact) count-aggregate cross — the same verification-harness
    # constant-attach shape as agg_heavy_hitters_twophase; the approximate
    # plans underneath stay equi-join only
    "knn_ivf_lsh",
    "similarity_search_ann",
    "similarity_search_ivf",
    "similarity_search_ivf_pruned",
    # r8 PQ search: same _pin_recall constant-attach + broadcast 1-row
    # query-vector cross as the siblings above; the ADC scan underneath
    # is in-row arithmetic into TakeOrdered, equi-join re-rank only
    "similarity_search_pq",
    # r8 CMS sketch: build side is the broadcast 1-row (n_mismatch,
    # n_total) aggregate — the verification-harness constant-attach shape
    "agg_cms_topk_merge",
    # r8 SemDeDup: the n x K assignment cross against the K-row broadcast
    # seed table (K = max(16, n/1024)) — the paper's own scoring cost; at
    # 100 TB it runs as the IVF cell_of Arrow matmul, same contract
    "dedup_semdedup_cells",
    # r10 continuation: broadcast 1-row constant-attaches — PMI's corpus
    # bigram total, the mixture sampler's (n_total, n_src) quota row, and
    # RFM's 1-row anchor + 9-value quartile-boundary row (two stacked
    # 1-row crosses); every other join in these plans is an equi-join
    "text_collocation_pmi",
    "sample_mixture_rebalance",
    "events_rfm_segments",
    # r10 continuation: the filtered/binary search twins of
    # similarity_search_query — same 1-row broadcast-query cross
    "similarity_search_filtered",
    "similarity_search_binary",
    # r10 continuation: basket lift attaches the broadcast 1-row basket
    # total; seasonality attaches the broadcast 1-row corpus total
    "orders_market_basket",
    "events_seasonality_profile",
    # r10 continuation: hotspot neighbor probe crosses the |cells| frame
    # with a broadcast NINE-row offset table (resolution-bounded constant,
    # never corpus-sized); the neighbor attach itself is an equi-join on
    # integer cell keys
    "geo_hotspot_cells",
}
ALLOWED_ROW_PY = {"text_shingle_udtf"}

CASES = sorted(registry.QUERIES)


@pytest.mark.parametrize("name", CASES)
def test_plan_has_no_silent_cross_or_row_udf(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()

    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in ALLOWED_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin (cross product?)"
        )
    if name not in ALLOWED_ROW_PY:
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in plan (use pandas UDF)"
        )


@pytest.mark.parametrize("name", CASES)
def test_no_array_or_map_in_final_output(spark, sf_dir, name):
    """The driver's result canon (pandas sort + hash) crashes on unhashable
    list cells — round 1 lost multimodal_image_features' verdict to this.
    No query may emit array/map/struct columns in its FINAL schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = registry.QUERIES[name](spark, sf_dir)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: non-scalar output columns {bad}"


def test_no_unbounded_driver_collect():
    """No operator may materialize a table on the driver (round 1:
    knn_cosine_topk toPandas'd the whole embeddings corpus — OOM by design
    at scale). ``.toPandas(`` is banned outright in package source;
    ``.collect(`` is allowed only at sites that are provably bounded
    (limit()-guarded probes, fixed-size training samples), each listed here
    with the substring that pins its context."""
    import pathlib

    pkg = pathlib.Path(registry.__file__).parent
    allowed_collect = [
        # schema/geometry probes, bounded by limit(_PROBE_ROWS) / limit(1)
        ("pipeline.py", ".limit(_PROBE_ROWS).collect()"),
        ("pipeline.py", ".limit(1)"),
        # IVF coarse quantizer trains on a fixed-size sample, not the corpus
        ("operators/llm.py", ".limit(_IVF_TRAIN_SAMPLE).select"),
        # power iteration reduces each pass to a _PCA_DIMS-row vector —
        # the driver sees 64 rows per iteration, never the corpus
        ("operators/llm.py", ".limit(_PCA_DIMS).collect()"),
        # the PCA Gram reduction: exactly _PCA_DIMS^2 = 4096 per-cell
        # sums (32 KB of driver state), never the corpus (r13)
        ("operators/llm.py", ".limit(_PCA_DIMS * _PCA_DIMS).collect()"),
        # SemDeDup matmul assignment: the K-seed frame (limit(kk) upstream,
        # K = n/1024) comes to the driver to build the broadcast seed
        # matrix — K rows, never the corpus; the SQL path broadcasts the
        # identical frame JVM-side
        ("operators/llm.py", "seed_frame.collect()"),
        # BPE training argmax: exactly ONE (l, r, count) row per merge
        # round comes to the driver (the pagerank/PCA bounded-driver-
        # state convention) — never the pair table
        ("operators/llm.py", ".limit(1).collect()"),
        # train-then-apply reads back the learned merge LIST — at most
        # _BPE_TRAIN_MERGES (6) rows, never corpus data
        ("operators/llm.py", 'text_bpe_train(spark, sf_dir).orderBy("rank")'),
        # batched BPE candidate window: exactly the top-W (12) pair rows
        # per round via TakeOrderedAndProject — never the pair table
        ("operators/llm.py", ".limit(_BPE_BATCH_W)"),
        # SemDeDup two-level route: only the ceil(sqrt(K)) SUPER-seed
        # prefix (limit(m) upstream) comes to the driver — O(sqrt(K))
        # rows by construction; the full K-seed set stays distributed
        ("operators/llm.py", "sup_frame.collect()"),
    ]
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        for ln, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".toPandas(" in code:
                offenders.append(f"{rel}:{ln} toPandas")
            if ".collect(" in code and not any(
                rel == f and marker in code for f, marker in allowed_collect
            ):
                offenders.append(f"{rel}:{ln} collect")
    assert not offenders, f"unbounded driver materialization: {offenders}"
