"""Fuzz family 31: schema evolution on read, differential on random
file generations.

Two targets (judge r8 order #7):

1. The mergeSchema READ SEMANTICS themselves — each seed writes 2-4
   parquet "generations" into one directory, every generation carrying a
   random subset of the optional columns in a random physical order, with
   random NULL injection.  Spark reads the directory with
   ``mergeSchema=true``; DuckDB reads the same files with
   ``union_by_name=true``.  Row sets over the canonical projection must
   match exactly — added, dropped, and reordered columns must surface as
   NULL-filled, never shifted or coerced.

2. The registered ``schema_evolution_read`` query — random documents
   corpora (random langs, id gaps, n_chars, sources) run through the
   operator's two-generation layout build and are compared against the
   registered DuckDB oracle, the standard registry differential.
"""

from __future__ import annotations

import glob
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_postgis_spark import registry

pytestmark = pytest.mark.seeded("seed")

registry.load_all()

SEEDS = range(40)

#: optional columns: name -> (pyarrow type, value generator)
_OPT_COLS = {
    "a": (pa.int64(), lambda rng: rng.randint(-(10**6), 10**6)),
    "b": (pa.float64(), lambda rng: round(rng.uniform(-1e3, 1e3), 6)),
    "c": (pa.string(), lambda rng: rng.choice(["x", "yy", "zzz", "", "äö"])),
    "d": (pa.int32(), lambda rng: rng.randint(0, 99)),
}
_CANON = ["id", "a", "b", "c", "d"]


def _write_generations(seed: int, path) -> None:
    rng = random.Random(310_000 + seed)
    n_gens = rng.randint(2, 4)
    next_id = 0
    for g in range(n_gens):
        opt = sorted(rng.sample(list(_OPT_COLS), rng.randint(0, 4)))
        cols = ["id"] + opt
        rng.shuffle(cols)  # random physical order per generation
        n = rng.randint(1, 120)
        data = {}
        for c in cols:
            if c == "id":
                data[c] = pa.array(
                    range(next_id, next_id + n), pa.int64()
                )
            else:
                typ, gen = _OPT_COLS[c]
                data[c] = pa.array(
                    [None if rng.random() < 0.15 else gen(rng) for _ in range(n)],
                    typ,
                )
        next_id += n
        pq.write_table(
            pa.table({c: data[c] for c in cols}),
            str(path / f"gen{g}.parquet"),
        )


@pytest.mark.parametrize("seed", SEEDS)
def test_merge_schema_matches_duckdb_union_by_name(spark, tmp_path, seed):
    _write_generations(seed, tmp_path)
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path))
    sel = [c if c in merged.columns else f"NULL AS {c}" for c in _CANON]
    got = sorted(
        tuple(map(str, r)) for r in merged.selectExpr(*sel).collect()
    )
    files = sorted(glob.glob(f"{tmp_path}/gen*.parquet"))
    present = set().union(*(pq.read_schema(f).names for f in files))
    proj = [c if c in present else f"NULL AS {c}" for c in _CANON]
    con = duckdb.connect()
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(
            f"""SELECT {', '.join(proj)} FROM (
                SELECT * FROM read_parquet({files!r}, union_by_name=true)
            )"""
        ).fetchall()
    )
    assert got == want, f"seed {seed}: mergeSchema rows diverge"


def _write_documents(seed: int, path) -> None:
    rng = random.Random(315_000 + seed)
    n = rng.randint(3, 400)
    langs = rng.sample(["en", "de", "fr", "ja", "pt", "ru"], rng.randint(1, 5))
    doc_id, ids = 0, []
    for _ in range(n):
        ids.append(doc_id)
        doc_id += rng.randint(1, 4)  # id gaps: both parities exercised
    t = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "lang": pa.array([rng.choice(langs) for _ in ids], pa.string()),
            "text": pa.array(["t" * rng.randint(1, 9) for _ in ids]),
            "n_chars": pa.array(
                [rng.randint(0, 10_000) for _ in ids], pa.int64()
            ),
            "source": pa.array(
                [rng.choice(["web", "book", "code"]) for _ in ids], pa.string()
            ),
        }
    )
    pq.write_table(t, str(path / "documents.parquet"))


@pytest.mark.parametrize("seed", range(0, 40, 2))  # 20 seeds: layout build is 2 spark writes each
def test_schema_evolution_read_matches_oracle(spark, tmp_path, seed):
    _write_documents(seed, tmp_path)
    got = sorted(
        tuple(map(str, r))
        for r in registry.QUERIES["schema_evolution_read"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(
        tuple(map(str, r))
        for r in con.execute(registry.ORACLES["schema_evolution_read"]).fetchall()
    )
    assert got == want, f"seed {seed}: schema_evolution_read rows diverge"
