"""Fuzz family 43: r10-continuation rate-limit / quality-gate / diff.

* ``stream_rate_limit_live`` (20 seeds — each replays a real stream
  through the state store): bursts above the per-minute budget, events
  landing exactly ON minute boundaries (bucket ownership must agree),
  same-instant ties ordered by event_id, multi-minute silent gaps
  (state carry must reset per minute, not leak), NULL ts excluded.
* ``pipeline_quality_gate`` (40 seeds): texts at the exact 5-word lower
  bound, all-duplicate-word docs (repetition gate), single-char and
  oversized words (mean-word-length gate via integer cross-multiply),
  empty/whitespace-only texts.
* ``lakehouse_manifest_diff`` (rider): synthesized corpora — the diff
  read must equal the odd-doc_id membership exactly (a v1-file leak
  would double rows; a missed append would drop them).

Compared row-for-row against the registered DuckDB oracles.
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

_T0 = dt.datetime(2024, 7, 1, 0, 0, 0)


def _write_events(seed: int, path) -> None:
    rng = random.Random(43000 + seed)
    rows = []
    eid = 1
    for u in range(1, rng.randint(2, 8) + 1):
        shape = rng.choice(["burst", "boundary", "ties", "sparse", "null_ts"])
        t = rng.randint(0, 3600)
        for _ in range(rng.randint(1, 20)):
            if shape == "burst":
                t += rng.choice([0, 1, 2, 5])  # many per minute
            elif shape == "boundary":
                t = (t // 60 + 1) * 60  # land exactly on minute starts
            elif shape == "ties":
                t += rng.choice([0, 0, 60])
            else:
                t += rng.randint(30, 900)
            ts = None if (shape == "null_ts" and rng.random() < 0.4) else (
                _T0 + dt.timedelta(seconds=t)
            )
            rows.append((eid, ts, u, "view", 1.0))
            eid += 1
    if not any(r[1] is not None for r in rows):
        rows.append((eid, _T0, 1, "view", 1.0))  # footer probe needs stats
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


def _write_docs(seed: int, path) -> None:
    rng = random.Random(43500 + seed)
    rows = []
    for d in range(1, rng.randint(1, 30) + 1):
        shape = rng.choice(
            ["normal", "five_words", "all_dup", "short_words", "long_words", "empty"]
        )
        if shape == "empty":
            text = rng.choice(["", " ", "  "])
        elif shape == "five_words":
            text = " ".join(rng.choice(["abc", "defg", "hi"]) for _ in range(5))
        elif shape == "all_dup":
            text = " ".join(["same"] * rng.randint(5, 15))
        elif shape == "short_words":
            text = " ".join(rng.choice(["a", "b"]) for _ in range(8))
        elif shape == "long_words":
            text = " ".join("x" * rng.randint(13, 30) for _ in range(6))
        else:
            text = " ".join(
                rng.choice(["alpha", "beta", "gamma", "delta", "ep"])
                for _ in range(rng.randint(1, 40))
            )
        rows.append((d, text, "en", f"src{rng.randint(1, 4)}", len(text)))
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


@pytest.mark.parametrize("seed", range(20))
def test_rate_limit_live_matches_oracle(spark, tmp_path, seed):
    _write_events(seed, tmp_path)
    _compare(spark, tmp_path, "stream_rate_limit_live", seed, "events")


@pytest.mark.parametrize("seed", range(40))
def test_quality_gate_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "pipeline_quality_gate", seed, "documents")


@pytest.mark.parametrize("seed", range(6))
def test_manifest_diff_matches_oracle(spark, tmp_path, seed):
    _write_docs(seed, tmp_path)
    _compare(spark, tmp_path, "lakehouse_manifest_diff", seed, "documents")


def test_rate_limit_burst_denies_beyond_budget(spark, tmp_path):
    """Seven events in one minute: exactly 3 allowed, 4 denied."""
    rows = [
        (i, _T0 + dt.timedelta(seconds=i), 1, "view", 1.0) for i in range(1, 8)
    ]
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
    out = registry.QUERIES["stream_rate_limit_live"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["n_allowed"] == 3 and out[0]["n_denied"] == 4
