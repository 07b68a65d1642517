"""Exactness guarantees of the SQL text in functions/num.py.

The long-cents money path rests on three claims, each proven here rather
than assumed:

1. ``sql_cents`` recovery: for any k-decimal-digit value n/10^k stored as
   its nearest double, FLOOR(x*10^k + 0.5) == n exactly — positive,
   negative, and the exactly-representable quarters included
   (hypothesis-swept).
2. Engine mirror: the same ``sql_cents``/``sql_lsum``/``sql_lsum_split``
   text, parsed by Spark (``F.expr``) and by DuckDB, gives bit-identical
   doubles on real table data (the convention is only useful if BOTH
   sides land on the same IEEE value).
3. ``sql_lsum_split`` == single-accumulator sum: the 2^20-radix hi/lo
   split recombines to exactly the plain sum on data small enough for
   both to be exact.

The vector folds ``spark_sumsq``/``spark_dot`` are held to the same bar:
equal, unrounded, to DuckDB's list arithmetic on every row.
"""

from __future__ import annotations

import math
import os

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from duckdb_postgis_spark.catalog import table
from duckdb_postgis_spark.functions.num import (
    spark_dot,
    spark_sumsq,
    sql_cents,
    sql_lavg,
    sql_lsum,
    sql_lsum_split,
)

#: cents(l_extendedprice) * (100 - cents(l_discount)): the Q1 product whose
#: sum needs the hi/lo split at large SF
_PROD = f"({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}))"


# --------------------------------------------------------------------------
# claim 1: pure-python model of the expression both engines evaluate
# --------------------------------------------------------------------------
@settings(max_examples=2000, deadline=None)
@given(
    n=st.integers(min_value=-(10**13), max_value=10**13),
    scale=st.sampled_from([0, 1, 2, 4]),
)
def test_cents_recovers_fixed_point_exactly(n: int, scale: int):
    x = n / (10**scale)  # nearest double to the fixed-point value
    recovered = math.floor(x * float(10**scale) + 0.5)
    assert recovered == n, (n, scale, x)


# --------------------------------------------------------------------------
# claims 2+3 on real data: Spark vs DuckDB vs each other
# --------------------------------------------------------------------------
def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    out = con.execute(sql).fetchall()
    con.close()
    return out


def test_lsum_lavg_mirror_duckdb_bitwise(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(sql_lsum("l_extendedprice")).alias("s"),
            F.expr(sql_lavg("l_extendedprice")).alias("a"),
            F.sum(F.expr(sql_cents("l_discount"))).alias("c"),
        )
        .orderBy("l_returnflag")
        .collect()
    )
    want = _duck(
        sf_dir,
        f"""
        SELECT l_returnflag,
               {sql_lsum('l_extendedprice')} AS s,
               {sql_lavg('l_extendedprice')} AS a,
               CAST(SUM({sql_cents('l_discount')}) AS BIGINT) AS c
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    )
    for g, w in zip(got, want):
        assert g.l_returnflag == w[0]
        # bit-identical, no tolerance: that IS the convention's claim
        assert g.s == w[1], (g.s, w[1])
        assert g.a == w[2], (g.a, w[2])
        assert g.c == w[3], (g.c, w[3])


def test_lsum_split_equals_plain_sum(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(sql_lsum_split(_PROD, 1e4)).alias("split"),
            (F.sum(F.expr(_PROD)).cast("double") / F.lit(1e4)).alias("plain"),
        )
        .collect()
    )
    for r in got:
        assert r.split == r.plain, (r.l_returnflag, r.split, r.plain)


# --------------------------------------------------------------------------
# the EXTREME-scale paths — domain boundary of the cents recovery,
# overflow of the single-accumulator sum that sql_lsum_split
# exists to survive, and a seeded synthetic-table mirror fuzz at magnitudes
# far beyond the driver testdata's.
# --------------------------------------------------------------------------
@settings(max_examples=1000, deadline=None)
@given(
    n=st.integers(min_value=-(1 << 51), max_value=1 << 51),
    scale=st.sampled_from([0, 1, 2, 4]),
)
def test_cents_recovery_holds_through_2_pow_51(n: int, scale: int):
    """The cents contract's actual domain: |n| ≤ 2^51.  The recovery needs
    |x·10^k − n| < 0.5 where x is the nearest double to n/10^k; the
    relative error of the divide+multiply round-trip stays below 2^-52·|n|
    + one product rounding, which crosses 0.5 only past ~2^51.  TPC-H
    SF-100k cents magnitudes are ~1e7 — 8 orders inside."""
    x = n / (10**scale)
    assert math.floor(x * float(10**scale) + 0.5) == n, (n, scale)


def test_cents_recovery_cliff_documented():
    """Beyond the 53-bit mantissa the recovery MUST fail — pin a concrete
    counterexample so the domain contract is a tested boundary, not a
    comment: 2^53+1 is not representable, so the nearest double IS 2^53
    and no arithmetic can recover the +1."""
    n = (1 << 53) + 1
    x = n / 1  # scale 0
    assert math.floor(x * 1.0 + 0.5) != n


def test_lsum_split_survives_int64_sum_overflow(spark, tmp_path):
    """The reason sql_lsum_split exists: a product column whose single-
    accumulator SUM(long) wraps a signed 64-bit.  300 rows of ~9.2e16
    sum to ~2.8e19 — 3× past 2^63-1 — so the plain sum is garbage
    (non-ANSI wraparound) while the 2^20-radix hi/lo split recombined in
    DECIMAL(38,0) must equal both DuckDB's HUGEINT sum and the exact
    python integer truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = [92_000_000_000_000_000 + 7 * i for i in range(300)]
    truth = sum(vals)
    assert truth > (1 << 63) - 1  # the plain accumulator genuinely wraps
    p = str(tmp_path / "big.parquet")
    pq.write_table(pa.table({"prod": pa.array(vals, pa.int64())}), p)

    got = (
        spark.read.parquet(p)
        .agg(F.expr(sql_lsum_split("prod", 1e4)).alias("split"))
        .collect()[0]
    )
    want_double = float(truth) / 1e4  # decimal→double, correctly rounded
    assert got.split == want_double, (got.split, want_double)
    # the single-accumulator path cannot even run: Spark 4's ANSI mode
    # raises ARITHMETIC_OVERFLOW on the wrapped SUM(long) — pin that the
    # failure is loud, which is exactly why the split path exists
    import pytest as _pytest

    with _pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        spark.read.parquet(p).agg(F.sum("prod")).collect()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}')")
    (duck,) = con.execute(f"SELECT {sql_lsum_split('prod', 1e4)} FROM t").fetchone()
    con.close()
    assert duck == got.split, (duck, got.split)


def _at_scale(sql: str, scale: int) -> str:
    """num's 2-digit money text with its 10^2 factor replaced by 10^scale."""
    return sql.replace("100.0", repr(float(10**scale)))


def test_fuzz_extreme_money_mirror(spark, tmp_path):
    """Seeded synthetic money tables at magnitudes the driver testdata
    never reaches (±1e13 at scales 0-6, sign-mixed, group-skewed):
    the lsum/lavg/cents text, rescaled to each draw's digits, must stay
    BITWISE identical between Spark and DuckDB on every draw — the
    cross-engine convention, stressed to the edge of its documented
    domain."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    for seed in range(12):
        rng = random.Random(700_000 + seed)
        scale = rng.choice([0, 1, 2, 4, 6])
        mag = rng.choice([10**6, 10**9, 10**13])
        n = rng.randint(50, 400)
        ints = [
            rng.randint(-mag, mag) * rng.choice([1, 1, 1, 113])
            for _ in range(n)
        ]
        # keep inside the proven |cents| ≤ 2^51 domain after skew
        ints = [max(min(v, 1 << 51), -(1 << 51)) for v in ints]
        rows = [v / (10**scale) for v in ints]
        groups = [rng.randint(0, 2) for _ in range(n)]
        p = str(tmp_path / f"money_{seed}.parquet")
        pq.write_table(
            pa.table(
                {
                    "g": pa.array(groups, pa.int32()),
                    "v": pa.array(rows, pa.float64()),
                }
            ),
            p,
        )
        s_sql = _at_scale(sql_lsum("v"), scale)
        a_sql = _at_scale(sql_lavg("v"), scale)
        c_sql = _at_scale(sql_cents("v"), scale)
        got = (
            spark.read.parquet(p)
            .groupBy("g")
            .agg(
                F.expr(s_sql).alias("s"),
                F.expr(a_sql).alias("a"),
                F.sum(F.expr(c_sql)).alias("c"),
            )
            .orderBy("g")
            .collect()
        )
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}')")
        want = con.execute(
            f"""
            SELECT g, {s_sql} AS s, {a_sql} AS a,
                   CAST(SUM({c_sql}) AS BIGINT) AS c
            FROM t GROUP BY g ORDER BY g
            """
        ).fetchall()
        con.close()
        assert len(got) == len(want)
        for gr, wr in zip(got, want):
            assert (gr.g, gr.s, gr.a, gr.c) == wr, (seed, scale, gr, wr)


def test_lsum_split_mirror_duckdb_bitwise(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    got = (
        li.groupBy("l_returnflag")
        .agg(F.expr(sql_lsum_split(_PROD, 1e4)).alias("s"))
        .orderBy("l_returnflag")
        .collect()
    )
    want = _duck(
        sf_dir,
        f"""
        SELECT l_returnflag, {sql_lsum_split(_PROD, 1e4)} AS s
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    )
    for g, w in zip(got, want):
        assert g.s == w[1], (g.l_returnflag, g.s, w[1])


def test_vector_folds_match_duckdb_unrounded(spark, sf_dir):
    """spark_sumsq and spark_dot equal DuckDB's list_sum(list_transform(..))
    and list_dot_product with ``==`` on every sf0.01 embedding — no
    rounding, unlike the parity harness's 9-digit cell normalization, so
    a last-bit drift in a norm or cosine fails here."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = table(spark, sf01, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    got = {
        r.vec_id: (r.ss, r.dot)
        for r in emb.crossJoin(q)
        .select(
            "vec_id",
            F.expr(spark_sumsq("embedding")).alias("ss"),
            F.expr(spark_dot("qe", "embedding")).alias("dot"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf01}/embeddings.parquet')"
    )
    want = con.execute(
        """
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)),
               list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        FROM embeddings e CROSS JOIN q
        """
    ).fetchall()
    con.close()
    assert len(want) == len(got) > 0
    bad = [(v, got[v], (ss, dot)) for v, ss, dot in want if got[v] != (ss, dot)]
    assert not bad, bad[:5]
