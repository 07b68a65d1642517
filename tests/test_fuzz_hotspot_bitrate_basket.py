"""Fuzz family 44: r10-continuation hotspot / bitrate-outlier / basket.

* ``geo_hotspot_cells`` (customer): custkey clusters straddling cell
  borders (neighbor sums must pool across the 3x3 block identically),
  single-cell corpora (own_n == neigh_n), exact neigh_n ties at the
  top-10 cut (the (neigh_n, cx, cy) total order must agree).
* ``multimodal_bitrate_outliers`` (documents): all-one-media-type
  corpora (doc_ids congruent mod 3), single-doc types (median == own
  ratio ⇒ no outlier), pixel extremes driving both outlier directions.
* ``orders_market_basket`` (lineitem): duplicate (order, part) lines
  (DISTINCT basket semantics), single-part orders (no pairs), one
  mega-basket (pair count quadratic in ITS size only), sub-min-support
  corpora (exactly-empty output), exact lift ties at the top-20 cut.

Compared row-for-row against the registered DuckDB oracles.
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


def _write_customer(rng: random.Random, path) -> None:
    shape = rng.choice(["cluster", "spread", "single", "border"])
    keys: list[int] = []
    if shape == "single":
        keys = [rng.randint(1, 10)] * rng.randint(1, 5)
    elif shape == "cluster":
        base = rng.randint(1, 300)
        keys = [base + rng.randint(0, 9) for _ in range(rng.randint(3, 40))]
    elif shape == "border":
        # custkeys whose lon ((k % 360) - 179.5) lands next to a 5-degree
        # cell border: neighbor pooling is the agreement surface
        base = rng.randint(0, 70) * 5 + 179  # lon ~ -0.5 + 5k
        keys = [base + rng.choice([0, 1, 2]) for _ in range(rng.randint(3, 30))]
    else:
        keys = [rng.randint(1, 2000) for _ in range(rng.randint(1, 60))]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(keys, pa.int64()),
                "c_acctbal": pa.array([1.0] * len(keys), pa.float64()),
            }
        ),
        path / "customer.parquet",
    )


def _write_docs(rng: random.Random, path) -> None:
    shape = rng.choice(["mixed", "one_type", "single", "extreme"])
    n = 1 if shape == "single" else rng.randint(2, 30)
    ids = (
        [3 * i for i in range(1, n + 1)]  # all ≡ 0 mod 3: one media type
        if shape == "one_type"
        else rng.sample(range(1, 500), n)
    )
    rows = [
        (d, f"text {d} " + "x" * rng.randint(0, 40), "en", "s", 10) for d in ids
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
        path / "documents.parquet",
    )


def _write_lineitem(rng: random.Random, path) -> None:
    shape = rng.choice(["normal", "mega", "singles", "dups", "sparse"])
    rows: list[tuple[int, int]] = []
    n_orders = rng.randint(1, 25)
    parts = list(range(1, rng.randint(2, 12)))
    for o in range(1, n_orders + 1):
        if shape == "singles":
            basket = [rng.choice(parts)]
        elif shape == "mega" and o == 1:
            basket = parts[:]  # one basket holding every part
        else:
            k = rng.randint(1, min(5, len(parts)))
            basket = rng.sample(parts, k)
        for p in basket:
            rows.append((o, p))
            if shape == "dups" and rng.random() < 0.5:
                rows.append((o, p))  # duplicate line: DISTINCT must collapse
    rng.shuffle(rows)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        path / "lineitem.parquet",
    )


def _compare(spark, path, name: str, seed, tbl: str) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {tbl} AS SELECT * FROM "
        f"read_parquet('{path}/{tbl}.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", SEEDS)
def test_hotspot_cells_matches_oracle(spark, tmp_path, seed):
    _write_customer(random.Random(44000 + seed), tmp_path)
    _compare(spark, tmp_path, "geo_hotspot_cells", seed, "customer")


@pytest.mark.parametrize("seed", SEEDS)
def test_bitrate_outliers_matches_oracle(spark, tmp_path, seed):
    _write_docs(random.Random(44100 + seed), tmp_path)
    _compare(spark, tmp_path, "multimodal_bitrate_outliers", seed, "documents")


@pytest.mark.parametrize("seed", SEEDS)
def test_market_basket_matches_oracle(spark, tmp_path, seed):
    _write_lineitem(random.Random(44200 + seed), tmp_path)
    _compare(spark, tmp_path, "orders_market_basket", seed, "lineitem")


def test_single_cell_corpus_own_equals_neigh(spark, tmp_path):
    """All points in one cell and no neighbors: own_n == neigh_n."""
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([500, 500, 500], pa.int64()),
                "c_acctbal": pa.array([1.0, 1.0, 1.0], pa.float64()),
            }
        ),
        tmp_path / "customer.parquet",
    )
    out = registry.QUERIES["geo_hotspot_cells"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["own_n"] == 3 and out[0]["neigh_n"] == 3


def test_basket_below_support_is_empty(spark, tmp_path):
    """Every pair co-occurs at most twice: min-support 3 empties the output."""
    rows = [(1, 1), (1, 2), (2, 1), (2, 2)]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    assert registry.QUERIES["orders_market_basket"](
        spark, str(tmp_path)
    ).collect() == []
