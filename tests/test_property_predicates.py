"""Property-style differential predicates (SURVEY §5.4).

Seeded random conjunctive predicates over lineitem are rendered from ONE spec
into both a Spark Column and a DuckDB WHERE clause; grouped exact aggregates
must match. This catches operator-semantics drift (null handling, LIKE
escaping, date comparison, decimal rounding) that the fixed query corpus
might miss.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duckdb_postgis_spark.catalog import table
from duckdb_postgis_spark.functions.num import sql_dsum
from tests.oracle_harness import normalize, run_oracle

pytestmark = pytest.mark.seeded("seed")


def _gen_clauses(rng: random.Random):
    """Yield (spark_col, sql_text) pairs built from one random choice."""
    clauses = []
    if rng.random() < 0.8:
        lo = rng.randint(1, 40)
        hi = lo + rng.randint(1, 10)
        clauses.append(
            (
                F.col("l_quantity").between(lo, hi),
                f"l_quantity BETWEEN {lo} AND {hi}",
            )
        )
    if rng.random() < 0.6:
        d = rng.choice([0.0, 0.02, 0.04, 0.06, 0.08])
        clauses.append((F.col("l_discount") <= d, f"l_discount <= {d}"))
    if rng.random() < 0.6:
        flags = rng.sample(["A", "N", "R"], rng.randint(1, 2))
        inlist = ", ".join(f"'{x}'" for x in flags)
        clauses.append(
            (F.col("l_returnflag").isin(flags), f"l_returnflag IN ({inlist})")
        )
    if rng.random() < 0.5:
        y = rng.randint(1993, 1997)
        clauses.append(
            (F.col("l_shipdate") >= f"{y}-06-01", f"l_shipdate >= DATE '{y}-06-01'")
        )
    if rng.random() < 0.4:
        k = rng.randint(0, 9)
        clauses.append(
            (F.col("l_partkey") % 10 == k, f"l_partkey % 10 = {k}")
        )
    if not clauses:  # degenerate draw: fall back to a tautology pair
        clauses.append((F.col("l_quantity") >= 0, "l_quantity >= 0"))
    return clauses


@pytest.mark.parametrize("seed", range(12))
def test_random_predicate_parity(spark, sf_dir, seed):
    rng = random.Random(seed)
    clauses = _gen_clauses(rng)
    cond = clauses[0][0]
    for c, _ in clauses[1:]:
        cond = cond & c
    where = " AND ".join(sql for _, sql in clauses)

    li = table(spark, sf_dir, "lineitem")
    got = (
        li.filter(cond)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.expr(sql_dsum("l_extendedprice")).alias("rev"))
    )
    sql = f"""
        SELECT l_returnflag, COUNT(*) AS n, {sql_dsum("l_extendedprice")} AS rev
        FROM lineitem WHERE {where} GROUP BY l_returnflag
    """
    s_cols, s_rows = got.columns, [tuple(r) for r in got.collect()]
    o_cols, o_rows, _ = run_oracle(sql, sf_dir)
    _, ns = normalize(s_cols, s_rows)
    _, no = normalize(o_cols, o_rows)
    assert ns == no, f"seed={seed} where={where}"


# --------------------------------------------------------------------------
# randomized join parity (type × per-side predicates from one spec)
# --------------------------------------------------------------------------
_JOIN_TYPES = [
    ("inner", "JOIN"),
    ("left", "LEFT JOIN"),
    ("left_semi", "SEMI"),
    ("left_anti", "ANTI"),
]


@pytest.mark.parametrize("seed", range(10))
def test_random_join_parity(spark, sf_dir, seed):
    rng = random.Random(1000 + seed)
    jt_spark, jt_sql = _JOIN_TYPES[rng.randrange(len(_JOIN_TYPES))]

    lo = rng.randint(1, 150_000)
    hi = lo + rng.randint(10_000, 200_000)
    o_pred_sql = f"o_totalprice BETWEEN {lo} AND {hi}"
    o_pred = F.col("o_totalprice").between(lo, hi)

    segs = rng.sample(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        rng.randint(1, 3),
    )
    seg_list = ", ".join(f"'{s}'" for s in segs)
    c_pred_sql = f"c_mktsegment IN ({seg_list})"
    c_pred = F.col("c_mktsegment").isin(segs)

    orders = table(spark, sf_dir, "orders").filter(o_pred)
    cust = table(spark, sf_dir, "customer").filter(c_pred)
    got = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, jt_spark)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.expr(sql_dsum("o_totalprice")).alias("tot"))
    )

    if jt_sql in ("JOIN", "LEFT JOIN"):
        from_sql = f"""
            FROM (SELECT * FROM orders WHERE {o_pred_sql}) o
            {jt_sql} (SELECT * FROM customer WHERE {c_pred_sql}) c
            ON o.o_custkey = c.c_custkey
        """
    elif jt_sql == "SEMI":
        from_sql = f"""
            FROM (SELECT * FROM orders WHERE {o_pred_sql}) o
            WHERE EXISTS (SELECT 1 FROM customer c
                          WHERE {c_pred_sql} AND c.c_custkey = o.o_custkey)
        """
    else:
        from_sql = f"""
            FROM (SELECT * FROM orders WHERE {o_pred_sql}) o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE {c_pred_sql} AND c.c_custkey = o.o_custkey)
        """
    sql = f"""
        SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum("o_totalprice")} AS tot
        {from_sql}
        GROUP BY o_orderpriority
    """
    s_cols, s_rows = got.columns, [tuple(r) for r in got.collect()]
    o_cols, o_rows, _ = run_oracle(sql, sf_dir)
    _, ns = normalize(s_cols, s_rows)
    _, no = normalize(o_cols, o_rows)
    assert ns == no, f"seed={seed} join={jt_spark}"


# --------------------------------------------------------------------------
# randomized aggregate parity (group key × aggregate set from one spec)
# --------------------------------------------------------------------------
_GROUP_KEYS = [
    (lambda: F.col("l_returnflag"), "l_returnflag"),
    (lambda: F.col("l_linestatus"), "l_linestatus"),
    (lambda: F.year("l_shipdate").alias("gk"), "year(l_shipdate)"),
]
_AGGS = [
    lambda: (F.count("*").alias("n"), "COUNT(*) AS n"),
    lambda: (
        F.expr(sql_dsum("l_quantity")).alias("sq"),
        f"{sql_dsum('l_quantity')} AS sq",
    ),
    lambda: (F.min("l_quantity").alias("mn"), "MIN(l_quantity) AS mn"),
    lambda: (F.max("l_quantity").alias("mx"), "MAX(l_quantity) AS mx"),
    lambda: (
        F.countDistinct("l_partkey").alias("dp"),
        "COUNT(DISTINCT l_partkey) AS dp",
    ),
]


@pytest.mark.parametrize("seed", range(10))
def test_random_aggregate_parity(spark, sf_dir, seed):
    rng = random.Random(2000 + seed)
    gk_fn, gk_sql = _GROUP_KEYS[rng.randrange(len(_GROUP_KEYS))]
    gk_col = gk_fn()
    picks = rng.sample(_AGGS, rng.randint(1, len(_AGGS)))
    agg_cols, agg_sqls = zip(*[p() for p in picks])

    li = table(spark, sf_dir, "lineitem")
    gk_name = "gk" if gk_sql.startswith("year") else gk_sql
    got = li.groupBy(gk_col.alias(gk_name) if gk_name == "gk" else gk_col).agg(
        *agg_cols
    )
    sql = f"""
        SELECT {gk_sql} AS {gk_name}, {", ".join(agg_sqls)}
        FROM lineitem GROUP BY {gk_sql}
    """
    s_cols, s_rows = got.columns, [tuple(r) for r in got.collect()]
    o_cols, o_rows, _ = run_oracle(sql, sf_dir)
    _, ns = normalize(s_cols, s_rows)
    _, no = normalize(o_cols, o_rows)
    assert ns == no, f"seed={seed} gk={gk_sql}"
