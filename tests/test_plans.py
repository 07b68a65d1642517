"""Physical-plan shape assertions — the 100 TB design gates.

Correct results with the wrong plan don't survive a 1000× scale-up; these
tests pin the plan properties SURVEY.md §4 commits to: pushdown reaching the
scan, broadcast joins for dims, TakeOrderedAndProject for top-k,
WindowGroupLimit for rank-filter, partial aggregation before exchanges.
"""

from __future__ import annotations

import pytest


def plan_of(df) -> str:
    df.collect()  # finalize the AQE plan so codegen ids / join picks are real
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    from duckdb_postgis_spark import registry

    registry.load_all()

    def get(name):
        return plan_of(registry.QUERIES[name](spark, sf_dir))

    return get


def test_filter_pushdown_reaches_parquet(plans):
    p = plans("filter_pred")
    assert "PushedFilters: [" in p
    # at least the range + IN predicates must push down
    assert "GreaterThanOrEqual" in p or "GreaterThan" in p
    assert "In(l_returnflag" in p


def test_column_pruning_scan_project(plans):
    p = plans("scan_project")
    # ReadSchema must carry only the 5 projected columns — no l_shipdate etc.
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" not in read and "l_quantity" not in read


def test_star_join_broadcasts_dims(plans):
    p = plans("join_broadcast_4way")
    assert p.count("BroadcastHashJoin") >= 3, p


def test_topk_is_take_ordered(plans):
    p = plans("sort_limit_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # no global sort shuffle


def test_rank_topn_uses_window_group_limit(plans):
    # Spark 3.5+/4 prunes each partition to k rows before the full window
    p = plans("window_rank_topn")
    assert "WindowGroupLimit" in p


def test_pricing_summary_partial_agg(plans):
    p = plans("pricing_summary")
    # partial then final hash aggregate around a single hash exchange
    # (the second exchange is the final orderBy's range partitioning)
    # node details live below both plan trees; structural count on the
    # final-plan tree only (AQE explain prints final + initial trees)
    final_tree = p.split("== Initial Plan ==")[0]
    assert final_tree.count("HashAggregate") >= 2
    assert "partial_sum" in p
    # exactly 1 exchange: the groupBy hash shuffle. The tiny final ordering
    # is coalesce(1)+sortWithinPartitions (functions/order.py) — no range
    # exchange stage.
    assert final_tree.count("Exchange") == 1
    assert "Coalesce" in final_tree


def test_pricing_summary_stays_on_long_fast_path(plans):
    """Round 6: the money aggregates run as long/decimal-free partial sums
    inside whole-stage codegen — no per-row BigDecimal.  The only DECIMAL
    in the plan is the 6-row hi/lo recombination AFTER the final
    aggregate (lsum_split), never in the scan-side partial aggregate."""
    p = plans("pricing_summary")
    final_tree = p.split("== Initial Plan ==")[0]
    assert "partial_sum" in p
    assert final_tree.count("Exchange") == 1  # one 6-row agg shuffle
    # FLOOR-based cents in the hot path; the old decimal(18,2) input casts
    # are gone — the only decimals left are the 6-row lsum_split
    # recombination (decimal(38,0)) after the final aggregate
    assert "FLOOR" in p
    assert "decimal(18,2)" not in p
    assert "decimal(38,0)" in p


def test_agg_distinct_expand_plan(plans):
    """Round 7: multi-distinct reverted to Catalyst's native Expand plan
    (the r6 union-packed rewrite's measured advantage did not replicate
    under interleaved A/B — see the agg_distinct docstring).  Shape: ONE
    column-pruned scan of exactly the 4 needed columns, an Expand node
    feeding the partial distinct aggregate, and at most 3 exchanges
    (distinct keys, per-flag counts, tiny ordering)."""
    p = plans("agg_distinct")
    final_tree = p.split("== Initial Plan ==")[0]
    assert "Expand" in final_tree
    assert final_tree.count("Scan parquet") == 1
    assert final_tree.count("Exchange") <= 3
    # the single scan prunes to exactly the grouping + 3 key columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,"
        "l_suppkey:bigint,l_returnflag:string>" in p
    )


def test_semi_anti_join_types(plans):
    p = plans("join_semi_anti")
    assert "LeftSemi" in p and "LeftAnti" in p


def test_whole_stage_codegen_everywhere(plans):
    # formatted explain marks codegen'd operators with [codegen id : N]
    for name in ("pricing_summary", "filter_pred", "scalar_string_date_math"):
        assert "codegen id" in plans(name)


def test_dedup_exact_partial_agg(plans):
    p = plans("dedup_exact_hash")
    assert p.count("HashAggregate") >= 2  # map-side partial dedup


def test_asof_union_merge_single_exchange_no_join(plans):
    """R9 as-of join is the union-merge rewrite: one hash Exchange (the
    window's partitioning on user), no join operator, no per-(user, order)
    fan-out (round-1 verdict, What's wrong #5)."""
    p = plans("join_asof")
    assert "Join" not in p, "as-of must not plan a join node"
    # AQE explain repeats the tree as Final + Initial: count the final only
    final = p.split("== Initial Plan ==")[0]
    n_exchange = final.count("- Exchange")
    assert n_exchange == 1, f"expected exactly 1 Exchange, plan:\n{final}"
    assert "Union" in final and "Window" in final


def test_gopher_quality_is_shuffle_free(plans):
    # per-doc metrics are in-row array expressions: scan → project → sort,
    # no Exchange other than the final presentation orderBy
    p = plans("text_gopher_quality")
    assert "BatchEvalPython" not in p
    body = p.split("Sort")[0]  # everything before the presentation sort
    assert "Exchange" not in body, body


def test_repetition_ratio_is_shuffle_free(plans):
    p = plans("text_repetition_ratio")
    assert "BatchEvalPython" not in p
    body = p.split("Sort")[0]
    assert "Exchange" not in body, body


def test_stratified_sample_pushes_nothing_to_python(plans):
    # md5-threshold sampling is a JVM-side filter in whole-stage codegen
    p = plans("sample_stratified_hash")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "codegen id" in p


def test_reservoir_topk_uses_window_group_limit(plans):
    p = plans("sample_reservoir_topk")
    assert "WindowGroupLimit" in p


def test_upsert_dedups_before_join(plans):
    # change side must collapse to 1 row/key via WindowGroupLimit BEFORE
    # meeting the base table in the join
    p = plans("upsert_latest_wins")
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_contamination_broadcasts_eval_side(plans):
    # the eval shingle set joins broadcast — no corpus-sized shuffle join
    p = plans("contamination_ngram_overlap")
    assert "BroadcastHashJoin" in p


def test_watermark_twin_has_no_global_single_partition_window(plans):
    # the two-level prefix scan keeps the big side under a PARTITIONED
    # window; only the tiny chunk summary may pass through SinglePartition
    p = plans("stream_watermark_late")
    assert "Window" in p
    # the events-scale window must be hash-partitioned on chunk
    assert "hashpartitioning(chunk" in p, p


def test_unpivot_is_shuffle_free_expand(plans):
    # melt compiles to Expand inside the scan stage — zero Exchange
    p = plans("unpivot_metrics")
    assert "Expand" in p
    assert "Exchange" not in p, p


def test_trailing_range_window_single_exchange(plans):
    # one hash shuffle on user_id; the RANGE frame adds no extra exchange
    p = plans("window_trailing_range")
    final = p.split("== Initial Plan ==")[0]
    assert final.count("- Exchange") == 1, final
    assert "hashpartitioning(user_id" in p


def test_e2e_pipeline_bounded_exchanges(plans):
    # quality filter is in-row; dedup window + pack window + final 5-row agg
    # — at most 4 data exchanges end-to-end, no Python in the plan
    p = plans("pipeline_training_e2e")
    assert "BatchEvalPython" not in p
    final = p.split("== Initial Plan ==")[0]
    assert final.count("- Exchange") <= 4, final


def test_sessionize_single_exchange(plans):
    # lag window, running-sum window and the session agg all share the
    # user_id hash partitioning — exactly one data exchange
    p = plans("sessionize_islands")
    final = p.split("== Initial Plan ==")[0]
    assert final.count("- Exchange") == 1, final
    assert "hashpartitioning(user_id" in p


def test_anomaly_broadcasts_stats(plans):
    # the |types|-row stats side must broadcast back onto hour buckets
    p = plans("events_anomaly_zscore")
    assert "BroadcastHashJoin" in p


def test_funnel_single_action_no_python(plans):
    # R26: stage counts ride one plan (union of 1-row aggs, pivoted) —
    # stage joins stay hash/broadcast equi-joins, nothing in Python, and
    # no BroadcastNestedLoopJoin sneaks in via the 1-row combine
    p = plans("events_funnel")
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_tfidf_single_action_broadcast_n(plans):
    # round-5 rewrite: corpus size N must ride the plan as a broadcast
    # 1-row ungrouped aggregate (no driver-side count() job re-entering the
    # plan as a literal). The 1-row attach is necessarily a BNLJ (Catalyst
    # folds constant join keys); the per-doc top-k stays WindowGroupLimit.
    p = plans("text_tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in p
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_temperature_sample_broadcasts_rates(plans):
    # round 5: the |sources|-row rate table broadcasts onto the corpus —
    # the corpus itself never shuffles (the only exchanges are the tiny
    # source-count agg and its 1-partition window)
    p = plans("sample_temperature_weighted")
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p
    final = p.split("== Initial Plan ==")[0]
    assert final.count("- Exchange") <= 2, final


def test_unigram_likelihood_single_action(plans):
    # corpus token total N rides as a broadcast 1-row aggregate (BNLJ with
    # provably-1-row build side, same declared shape as tfidf); frequencies
    # partial-aggregate before their exchange
    p = plans("text_unigram_likelihood")
    assert "BatchEvalPython" not in p
    assert "partial_count" in p


def test_pii_scrub_shuffle_free(plans):
    # stateless in-row regex work: zero exchanges, whole-stage codegen
    p = plans("text_pii_scrub")
    final = p.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final
    assert "codegen id" in p
    assert "BatchEvalPython" not in p


def test_media_dedup_shuffles_hashes_not_payloads(plans):
    # the shuffle key is the 32-byte content hash; payload bytes must not
    # appear in any Exchange input (they reduce to the hash in the scan
    # stage projection)
    p = plans("multimodal_dedup_exact")
    final = p.split("== Initial Plan ==")[0]
    assert final.count("HashAggregate") >= 2, final  # map-side partial
    for block in p.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.splitlines()[0]:
            assert "payload" not in block, block


def test_retention_cohorts_partial_agg(plans):
    # R27: cohort assignment and activity dedup both partial-aggregate
    # before their exchanges (HashAggregate below Exchange), so the shuffle
    # moves |users|/|user-months|, never |events|
    p = plans("retention_cohorts")
    assert "BatchEvalPython" not in p
    final = p.split("== Initial Plan ==")[0]
    assert "HashAggregate" in final and "Exchange" in final


def test_theta_range_quadratic_guard(spark, sf_dir):
    """join_theta_range runs the linear bucketed rewrite, never the naive
    theta form (at 1 M events that did not finish in an hour).  Its
    values stay checked against the DuckDB theta-join oracle by oracle
    parity and scripts/driver_replica.py."""
    from duckdb_postgis_spark.operators import relational

    plan = relational.join_theta_range(
        spark, sf_dir
    )._jdf.queryExecution().executedPlan().toString()
    # the bucketed equi-join: no band residual as a join CONDITION on a
    # sort-merge range join; the bucket explode is its signature
    assert "explode" in plan.lower(), plan


def test_minhash_survives_unset_shuffle_conf(spark, sf_dir):
    """r9 sf1-sweep regression: after a streaming query UNSETS
    spark.sql.shuffle.partitions (run_available_now restores-by-unset
    under the driver's plain session), the minhash width probe must not
    pass an explicit default to conf.get — Spark 4 validates explicit
    defaults against the conf requirement and throws INVALID_CONF_VALUE
    on '0'."""
    from duckdb_postgis_spark.operators import llm

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.unset("spark.sql.shuffle.partitions")
    try:
        assert llm.dedup_minhash_lsh(spark, sf_dir).count() >= 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


# --------------------------------------------------------------------------
# r13 OPTIMIZATION-round plan pins — each pins the rewritten internal
# shape of an operator whose results are oracle-pinned elsewhere, so a
# future refactor cannot silently fall back to the slow plan.
# --------------------------------------------------------------------------


def test_minhash_lsh_bucket_grouped_candidates(plans):
    """r13: candidate pairs come from groupBy(band,bsig)+collect_list
    in-row expansion — ONE signature pass — not the banded self-join
    that re-ran the 12-way min-md5 SortAggregate on both join sides
    (12 -> 4 SortAggregate blocks in the executed plan, corpus-wide
    BroadcastExchange gone)."""
    p = plans("dedup_minhash_lsh")
    assert "collect_list" in p, "bucket-grouped candidate generation lost"


def test_agg_approx_distinct_sketches_outside_expand(plans):
    """r13: the two HLL sketches aggregate on the plain 3-row group key,
    NOT on the multi-distinct Expand's distinct-key-augmented groups —
    the combined form carried 2 x ~21 KB HLL buffers per (key, distinct
    value, gid) group and cost 34.2 s vs 4.2 s at sf0.1."""
    p = plans("agg_approx_distinct")
    blocks = [b for b in p.split("\n\n") if "partial_approx_count_distinct" in b]
    assert blocks, "HLL partial aggregate missing from plan"
    for b in blocks:
        keys = [ln for ln in b.splitlines() if ln.startswith("Keys")]
        assert keys and "gid#" not in keys[0], (
            "HLL partial agg grouped on the Expand's gid again:\n" + b[:500]
        )


def test_geo_knn_attach_saturates_cluster(plans):
    """r13: the customer side is repartitioned to cluster width before
    the 1000-supplier broadcast attach — without it the 15 M-row cross
    product inherited the tiny customer scan's partitioning (10 tasks,
    one straggler, ~20 s at sf0.1)."""
    p = plans("geo_knn_join")
    assert "REPARTITION_BY_NUM" in p, "width repartition before attach lost"
    assert "BroadcastNestedLoopJoin" in p  # the attach itself is unchanged


def test_simhash_signature_pass_runs_once(plans):
    """r13: the signature frame is persisted across its three consumers
    (band explode + both verify-side re-attaches); without the persist
    the dominant signature lineage (token explode + 16 md5 digit convs +
    64 vote sums) executed three times."""
    p = plans("dedup_simhash")
    assert "InMemoryTableScan" in p, "signature persist lost"


def test_bm25_tokenizes_corpus_once(plans):
    """r13 continuation: all BM25 per-doc statistics (dl + the three
    per-term tfs) compute in ONE conditional aggregation over a single
    tokenize pass; df/avgdl derive from the |docs|-row frame via a
    ReusedExchange.  The r10 shape fanned the corpus tokenize into FOUR
    executing Generate nodes (dl x2 via the stats branch, tf, df)."""
    p = plans("text_bm25_search")
    final_tree = p.split("== Initial Plan ==")[0].split("\n\n", 1)[0]
    assert final_tree.count("Generate") == 1, (
        "BM25 corpus tokenize duplicated again:\n" + final_tree
    )


def test_pmi_explodes_bigrams_once(plans):
    """r13 continuation: unigram slot counts derive from the bigram
    counts (c(tok) = sum of c_ab over bigrams with tok in that slot), so
    the corpus bigram explode executes once and the uni/tot branches ride
    ReusedExchange.  The r10 shape re-ran the explode twice more inside
    the Union feeding uni (3 Generate nodes in the executed plan -> 1)."""
    p = plans("text_collocation_pmi")
    final_tree = p.split("== Initial Plan ==")[0].split("\n\n", 1)[0]
    assert final_tree.count("Generate") == 1, (
        "PMI bigram explode duplicated again:\n" + final_tree
    )
