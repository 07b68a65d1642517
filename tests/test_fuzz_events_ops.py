"""Fuzz family 36: r10-continuation events operators, differential.

One generator, three consumers — the three new events-table operators
each have a distinct cross-engine agreement surface:

* ``events_ewma_trailing``: NULL gaps and series heads re-normalize by
  PRESENT weights (never bias toward zero), duplicate-timestamp runs
  order by (ts, event_id) identically in both engines, and all-NULL
  users emit NULL ewma (0-weight denominator), never NaN.
* ``events_max_concurrency``: closed-interval tie rule (+1 before −1 at
  equal t) — planted same-instant session boundaries and zero-length
  single-event sessions exercise it; NULL ts rows are excluded on both
  sides.
* ``agg_hll_intersection``: pairs with ZERO shared users must be absent
  from the output on both engines (inner-join semantics), and the
  union-relative error pin must hold across overlap shapes from
  disjoint to fully-nested segment pools.

40 seeded corpora over real parquet (the catalog's events-ts footer
probe runs), compared row-for-row against the registered DuckDB oracles
— the same harness the driver uses.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)
_T0 = dt.datetime(2024, 4, 1, 0, 0, 0)
_TYPES = ["view", "click", "purchase", "signup", "error"]


def _write_corpus(seed: int, path) -> None:
    rng = random.Random(36000 + seed)
    n_users = rng.randint(2, 14)
    n_types = rng.randint(1, 5)
    types = _TYPES[:n_types]
    overlap = rng.choice(["shared", "disjoint", "nested"])
    rows = []
    eid = 1
    for u in range(1, n_users + 1):
        shape = rng.choice(
            ["normal", "single_event", "all_null_values", "tie_heavy", "null_ts"]
        )
        if overlap == "disjoint":
            # each user sticks to ONE type: every pairwise intersection
            # must be exactly empty → rows absent from the output
            u_types = [types[u % n_types]]
        elif overlap == "nested":
            # user u participates in a prefix of the type list: pairwise
            # intersections are nested subsets of each other
            u_types = types[: (u % n_types) + 1]
        else:
            u_types = [t for t in types if rng.random() < 0.6] or [types[0]]
        n_ev = 1 if shape == "single_event" else rng.randint(1, 10)
        base = rng.randint(0, 4 * 86400)
        for i in range(n_ev):
            if shape == "null_ts" and rng.random() < 0.4:
                ts = None
            else:
                # mostly same-day clusters so sessions genuinely overlap,
                # plus occasional same-instant boundaries (tie rule)
                ts = _T0 + dt.timedelta(seconds=base + rng.randint(0, 50000))
            val = (
                None
                if shape == "all_null_values" or rng.random() < 0.15
                else round(rng.uniform(-50, 50), 3)
            )
            rows.append((eid, ts, u, rng.choice(u_types), val))
            eid += 1
            if shape == "tie_heavy" and ts is not None and rng.random() < 0.5:
                # duplicate-timestamp run: ewma lag order + concurrency
                # range-frame pooling must agree cross-engine
                rows.append(
                    (eid, ts, u, rng.choice(u_types), round(rng.uniform(-5, 5), 3))
                )
                eid += 1
    rng.shuffle(rows)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        path / "events.parquet",
    )


def _compare(spark, path, name: str, seed) -> None:
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES[name](spark, str(path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/events.parquet')"
    )
    want = sorted(
        tuple(map(str, r)) for r in con.execute(registry.ORACLES[name]).fetchall()
    )
    assert got == want, f"seed {seed}: {name} rows diverge"


@pytest.mark.parametrize("seed", SEEDS)
def test_ewma_trailing_matches_oracle(spark, tmp_path, seed):
    _write_corpus(seed, tmp_path)
    _compare(spark, tmp_path, "events_ewma_trailing", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_max_concurrency_matches_oracle(spark, tmp_path, seed):
    _write_corpus(seed, tmp_path)
    _compare(spark, tmp_path, "events_max_concurrency", seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_hll_intersection_matches_oracle(spark, tmp_path, seed):
    _write_corpus(seed, tmp_path)
    _compare(spark, tmp_path, "agg_hll_intersection", seed)


def test_all_null_values_user_emits_null_ewma(spark, tmp_path):
    """A user whose every value is NULL gets ewma NULL on every row (the
    0-weight denominator guard) — never NaN, never a dropped row."""
    rows = [(i, _T0 + dt.timedelta(seconds=i), 1, "view", None) for i in range(6)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    out = registry.QUERIES["events_ewma_trailing"](spark, str(tmp_path)).collect()
    assert len(out) == 6
    assert all(r["ewma"] is None for r in out)


def test_disjoint_segments_emit_no_pairs(spark, tmp_path):
    """Fully-disjoint user pools per type: the intersection output must be
    exactly empty on both engines (inner-join semantics)."""
    rows = []
    for i in range(20):
        rows.append(
            (
                i + 1,
                _T0 + dt.timedelta(seconds=i * 100),
                i + 1,  # every user unique
                _TYPES[i % 3],
                1.0,
            )
        )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
            }
        ),
        tmp_path / "events.parquet",
    )
    out = registry.QUERIES["agg_hll_intersection"](spark, str(tmp_path)).collect()
    assert out == []
