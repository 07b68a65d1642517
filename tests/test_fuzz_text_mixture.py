"""Fuzz family 41: r10-continuation text/dedup/mixture operators.

One documents generator, three consumers:

* ``dedup_ngram_containment``: planted short-doc-inside-long-doc pairs
  (containment 1.0 where Jaccard is tiny — the operator's whole point),
  exact 0.8-boundary overlaps, docs under 3 words (must drop), and
  duplicate shingles within one doc (DISTINCT set semantics).
* ``text_collocation_pmi``: bigram-spam docs (one pair repeated — PMI
  rank must saturate deterministically), double spaces (empty tokens
  filtered on both engines), single-word docs, corpora where every
  bigram count < 3 (exactly-empty output pinned), and exact pmi_ppm
  ties at the top-20 cut (total order (pmi, w1, w2) must agree).
* ``sample_mixture_rebalance``: single-source corpora (quota = N ⇒
  keep everything), many one-doc sources, NULL n_chars (SUM-ignores
  semantics must match), and skew (one source dominating ⇒ its rank
  cut must select identical doc sets via kept_chars).

40 seeded corpora over real parquet, compared row-for-row against the
registered DuckDB oracles — the same harness the driver uses.
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
    "iota", "kappa", "new", "york", "machine", "learning", "the", "of",
]


def _write_docs(seed: int, path) -> None:
    rng = random.Random(41000 + seed)
    n_docs = rng.randint(1, 25)
    vocab = _WORDS[: rng.randint(2, len(_WORDS))]
    rows = []
    for d in range(1, n_docs + 1):
        shape = rng.choice(
            ["normal", "tiny", "spam", "double_space", "contained", "single"]
        )
        if shape == "tiny":
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 2))]
        elif shape == "single":
            words = [rng.choice(vocab)]
        elif shape == "spam":
            # one bigram repeated: c_ab == c_a == c_b shape, PMI saturates
            pair = [rng.choice(vocab), rng.choice(vocab)]
            words = pair * rng.randint(3, 10)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
        text = " ".join(words)
        if shape == "double_space" and len(words) >= 2:
            text = "  ".join(words)  # empty tokens: filtered on both sides
        rows.append(
            (
                d,
                text,
                rng.choice(["en", "de"]),
                f"src{rng.randint(1, rng.choice([1, 2, 5]))}",
                None if rng.random() < 0.15 else len(text),
            )
        )
        if shape == "contained" and len(words) >= 6:
            # a strict substring doc: containment 1.0, Jaccard small
            k = rng.randint(3, len(words) - 1)
            start = rng.randint(0, len(words) - k)
            rows.append(
                (
                    n_docs + d,
                    " ".join(words[start : start + k]),
                    "en",
                    "src1",
                    k,
                )
            )
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


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", SEEDS)
def test_containment_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "dedup_ngram_containment", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_collocation_pmi_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "text_collocation_pmi", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_mixture_rebalance_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "sample_mixture_rebalance", seed)


def test_contained_doc_scores_full_containment(spark, tmp_path):
    """A doc that is a verbatim 5-word slice of a 40-word doc: containment
    must be exactly 1.0 even though Jaccard is far below the 0.5 gate."""
    long_words = [f"w{i}" for i in range(40)]
    rows = [
        (1, " ".join(long_words), "en", "src1", 200),
        (2, " ".join(long_words[10:15]), "en", "src1", 30),
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
    out = registry.QUERIES["dedup_ngram_containment"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_a"] == 1 and out[0]["doc_b"] == 2
    assert out[0]["containment"] == 1.0
    jac = registry.QUERIES["dedup_ngram_jaccard"](spark, str(tmp_path)).collect()
    assert jac == []  # Jaccard misses exactly this pair


def test_single_source_keeps_everything(spark, tmp_path):
    """One source ⇒ quota == N ⇒ every doc kept; kept_chars == total."""
    rows = [(i, f"doc {i} text", "en", "only", 10 + i) for i in range(1, 8)]
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
    out = registry.QUERIES["sample_mixture_rebalance"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 7 and r["n_kept"] == 7 and r["quota"] == 7
    assert r["kept_chars"] == sum(10 + i for i in range(1, 8))


def test_pmi_below_min_count_is_empty(spark, tmp_path):
    """Every bigram occurs < 3 times: output exactly empty on both sides."""
    rows = [(1, "a b c d e", "en", "s", 9), (2, "f g h i j", "en", "s", 9)]
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
    out = registry.QUERIES["text_collocation_pmi"](spark, str(tmp_path)).collect()
    assert out == []
    _compare(spark, tmp_path, "text_collocation_pmi", "min-count")


# -- family-41 rider: VACUUM orphan audit (round-10 continuation) -----------
@pytest.mark.parametrize("seed", range(20))
def test_vacuum_orphans_matches_oracle(spark, tmp_path, seed):
    """The live/orphan split over adversarial docs corpora — all-even and
    all-odd doc_id seeds make one population empty; the digest must still
    emit both rows (NULL total_chars for the empty side) on both engines."""
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "maintenance_vacuum_orphans", seed)


# -- family-41 riders: normalized dedup + k-fold assign (round-10 cont.) ----
@pytest.mark.parametrize("seed", range(40))
def test_exact_normalized_matches_oracle(spark, tmp_path, seed):
    """Case/whitespace-variant corpora: the double_space shape produces
    raw-byte-distinct but normalization-equal docs — exactly the pairs
    this pass exists to catch; spam/tiny shapes exercise empty and
    single-member groups (filtered out on both engines)."""
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "dedup_exact_normalized", seed)


@pytest.mark.parametrize("seed", range(40))
def test_kfold_assign_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "sample_kfold_assign", seed)


def test_normalized_dedup_catches_case_and_spacing(spark, tmp_path):
    """'Hello  World' and 'hello world' share a normalized digest (group
    of 2, survivor = lowest doc_id); a raw-byte-identical pair and a
    genuinely distinct doc round out the taxonomy."""
    rows = [
        (1, "Hello  World", "en", "s", 12),
        (2, "hello world", "en", "s", 11),
        (3, "hello world", "en", "s", 11),  # raw-identical to 2
        (4, "different entirely", "en", "s", 18),
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
    out = {
        r["doc_id"]: r["dup_count"]
        for r in registry.QUERIES["dedup_exact_normalized"](
            spark, str(tmp_path)
        ).collect()
    }
    # survivors: doc 1 owns the 3-member normalized group; doc 4 is a
    # singleton; docs 2 and 3 collapsed away
    assert out == {1: 3, 4: 1}


@pytest.mark.parametrize("seed", SEEDS)
def test_lines_intradoc_matches_oracle(spark, tmp_path, seed):
    """r11 rider: the line-grain dedup metrics over the same corpora —
    spam docs (one bigram repeated) make every full line identical, tiny
    docs exercise the single-partial-line floor, contained docs plant
    cross-doc shared lines."""
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "dedup_lines_intradoc", seed)


def test_lines_intradoc_planted_duplicates(spark, tmp_path):
    """Directed: a doc of one 8-word line repeated 4x must score
    dup_line_frac_ppm = 750000 (3 excess of 4); an exact copy of that
    doc shares its line cross-doc; an unrelated doc scores 0/0."""
    line = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, " ".join([line] * 4), "en", "src1", 4 * len(line)),
        (2, " ".join([line] * 4), "en", "src1", 4 * len(line)),
        (3, "iota kappa new york machine learning the of", "en", "src1", 44),
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
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["dedup_lines_intradoc"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_frac_ppm"] == 750000
    assert out[1]["crossdoc_dup_lines"] == 1  # its single distinct line
    assert out[2]["crossdoc_dup_lines"] == 1
    assert out[3]["dup_line_frac_ppm"] == 0
    assert out[3]["crossdoc_dup_lines"] == 0
    _compare(spark, tmp_path, "dedup_lines_intradoc", "directed")
