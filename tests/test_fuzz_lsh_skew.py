"""Fuzz family 25 (r14): mass-duplicate skew guard for bucket-grouped LSH.

The r13 bucket-grouped candidate generation (dedup_minhash_lsh,
_knn_ivf_lsh_approx) collect_lists an entire LSH bucket into one
aggregation-buffer row; on a crawl corpus a 10⁶-member boilerplate cluster
OOMs that task.  r14 salts members into ceil(n/_LSH_SEG_TARGET) segments
(_segmented_bucket_pairs).  This family pins the two contract halves:

1. VALUE IDENTITY — on corpora with planted mass-duplicate clusters the
   segmented expansion emits exactly the unsegmented form's
   (doc_a, doc_b, est_jaccard) multiset (same canonicalization, same
   symmetric estimate), across seeds and segment counts.
2. BOUNDED BUFFER — on 10⁴- and 10⁵-copy single-document clusters the
   largest collect_list segment stays ~_LSH_SEG_TARGET (here lowered so
   the test is cheap): it does NOT scale with cluster size — growing the
   cluster 10× leaves the per-group bound unchanged.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.operators import llm

pytestmark = pytest.mark.seeded("seed")


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def _unsegmented_pairs(banded):
    """The r13 (pre-skew-guard) expansion, verbatim — the driver-hash-green
    reference semantics the segmented form must reproduce."""
    buckets = banded.groupBy("band", "bsig").agg(
        F.collect_list(F.struct("doc_id", "sig")).alias("ms")
    )
    return (
        buckets.filter(F.size("ms") >= 2)
        .select(
            F.explode(
                F.expr(
                    """
            flatten(transform(ms, (a, i) ->
              transform(slice(ms, i + 2, size(ms) - i - 1), b ->
                struct(least(a.doc_id, b.doc_id) AS doc_a,
                       greatest(a.doc_id, b.doc_id) AS doc_b,
                       a.sig AS sig_a, b.sig AS sig_b))))"""
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
    )


def _est(pairs):
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1.0).otherwise(0.0)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(llm._MINHASH_SEEDS)), 6).alias("est"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


def _segmented_pairs(spark, banded, n_rows):
    return llm._segmented_bucket_pairs(
        spark,
        banded,
        ["band", "bsig"],
        "doc_id",
        ["sig"],
        "struct(least(a.doc_id, b.doc_id) AS doc_a, "
        "greatest(a.doc_id, b.doc_id) AS doc_b, "
        "a.sig AS sig_a, b.sig AS sig_b)",
        n_rows,
    )


@pytest.mark.parametrize("seed", range(8))
def test_segmented_pairs_match_unsegmented(spark, seed, monkeypatch):
    """Planted mass-dup clusters + background docs: segmented == unsegmented
    pair multiset, including est_jaccard values, at several segment widths."""
    rng = random.Random(9100 + seed)
    words = [f"w{k}" for k in range(30)]
    dup = " ".join(rng.choices(words, k=12))
    n_dup = rng.randint(40, 140)
    texts = [dup] * n_dup
    for _ in range(rng.randint(10, 60)):
        texts.append(" ".join(rng.choices(words, k=rng.randint(5, 14))))
    rng.shuffle(texts)
    # lowered target so even this small corpus splits into many segments
    # (10⁹ exercises the helper's unsegmented dispatch branch instead)
    monkeypatch.setattr(llm, "_LSH_SEG_TARGET", rng.choice([8, 16, 64, 10**9]))

    docs = _docs_df(spark, texts)
    banded = llm._minhash_banded(llm._minhash_signatures(spark, docs))
    got = _est(_segmented_pairs(spark, banded, len(texts))).collect()
    want = _est(_unsegmented_pairs(banded)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # sanity: the cluster actually produced its full quadratic pair set
    assert len(want) >= n_dup * (n_dup - 1) // 2


@pytest.mark.slow
@pytest.mark.parametrize("n_copies", [10_000, 100_000])
def test_mass_duplicate_buffer_bound(spark, n_copies, monkeypatch):
    """10⁴ and 10⁵ copies of ONE doc (the r13 verdict's fuzz order): the
    largest per-(bucket, segment) collect_list stays within slack of
    _LSH_SEG_TARGET — the aggregation buffer does not scale with the
    cluster.  Only the segment stage runs (expanding C(10⁵,2) pairs is the
    quadratic output itself, not the buffer under test)."""
    target = 64
    monkeypatch.setattr(llm, "_LSH_SEG_TARGET", target)
    docs = _docs_df(spark, ["alpha beta gamma delta epsilon zeta"] * n_copies)
    banded = llm._minhash_banded(llm._minhash_signatures(spark, docs))
    segs = llm._segment_lists(
        spark, banded, ["band", "bsig"], "doc_id", ["sig"], n_copies
    )
    row = segs.agg(
        F.max(F.size("ms")).alias("mx"), F.count(F.lit(1)).alias("groups")
    ).first()
    nseg = llm._lsh_seg_count(n_copies)
    assert nseg == -(-n_copies // target)
    # Poisson(λ=target) max over nseg bins: 2× slack is > +8σ
    assert row["mx"] <= 2 * target, (n_copies, row["mx"])
    # every band's bucket actually was the full cluster, split nseg ways
    n_bands = llm._MINHASH_SEEDS // llm._LSH_BAND_ROWS
    assert row["groups"] == n_bands * nseg


def test_knn_banding_buffer_bound(spark, monkeypatch):
    """Same bound on the embedding-banding side: 10⁴ identical vectors land
    in one (band, bucket) per band; segments stay ~target."""
    import numpy as np

    target = 64
    monkeypatch.setattr(llm, "_LSH_SEG_TARGET", target)
    n = 10_000
    vec = [float(x) for x in np.arange(8) + 1.0]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id bigint, embedding array<float>"
    )
    banded = llm._embed_codes(emb, llm._lsh_bits(n), 8, ("embedding",))
    segs = llm._segment_lists(
        spark, banded, ["band", "bucket"], "vec_id", ["embedding"], n
    )
    mx = segs.agg(F.max(F.size("ms"))).first()[0]
    assert mx <= 2 * target, mx
