"""Query + oracle registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2.8-2.11 registers itself here with an
optional DuckDB oracle SQL twin.  The driver runs both sides at sf0.01 and
compares row-count + schema + order-insensitive value hash, so the contract
is: *identical column names, identical values* (functions/num.py holds the
exact-arithmetic SQL text that makes float values match bit-for-bit).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# The driver verifies the first DRIVER_WINDOW entries of queries(), in
# order, so dict order is part of the external contract.  PRIORITY pins that
# window: changed code outranks refreshes of the oldest verdicts.
PRIORITY: tuple[str, ...] = (
    # -- changed code, not yet driver-verified ----------------------------
    "join_bucketed_colocated",
    "dedup_incremental_minhash",
    "dedup_minhash_index_append",
    "dedup_minhash_index_compact",
    "dedup_incremental_embedding",
    "dedup_embedding_index_append",
    "dedup_embedding_index_compact",
    "lakehouse_compact_deletes",
    "maintenance_vacuum_orphans",
    "lakehouse_manifest_pruned_scan",
    "geo_wkb_roundtrip",
    "pipeline_geo_file_e2e",
    "join_theta_range",
    "dedup_minhash_lsh",
    "agg_approx_distinct",
    "geo_knn_join",
    "embed_pca_power_iteration",
    "knn_ivf_lsh",
    "dedup_semdedup_cells",
    "pipeline_embedding_e2e",
    "pipeline_geojson_e2e",
    "dedup_simhash",
    "similarity_search_ann",
    "similarity_search_ivf",
    "similarity_search_ivf_pruned",
    "similarity_search_quantized",
    "similarity_search_pq",
    "agg_quantile_histogram_merge",
    "agg_heavy_hitters_twophase",
    "dedup_survivorship_merge",
    "dedup_cluster_components",
    "text_bm25_search",
    "text_collocation_pmi",
    "multimodal_frame_sample",
    "multimodal_phash_dedup",
    "text_bpe_train",
    "text_bpe_train_apply",
    # -- changed code ------------------------------------------------------
    "multimodal_image_features",
    "dedup_verify_levenshtein",
    "agg_approx_percentiles",
    "stream_tumbling_live",
    "stream_hll_distinct_live",
    "stream_cms_topk_live",
    "stream_sliding_live",
    "stream_session_live",
    "stream_watermark_late_live",
    "stream_dedup_live",
    "stream_user_state",
    "stream_static_join",
    "stream_stream_join",
)
DRIVER_WINDOW = 50


def _ordered(d: dict[str, Any]) -> dict[str, Any]:
    """Return ``d`` reordered so PRIORITY names come first, in PRIORITY
    order, then everything else in registration order."""
    head = {n: d[n] for n in PRIORITY if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` as its DuckDB twin."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registration side-effects run."""
    from duckdb_postgis_spark.operators import (  # noqa: F401
        geo,
        lakehouse,
        llm,
        multimodal,
        relational,
        streaming,
        training,
    )
    from duckdb_postgis_spark.plans import layout  # noqa: F401
    from duckdb_postgis_spark.streaming import streams  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
