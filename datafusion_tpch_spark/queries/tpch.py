"""The TPC-H workload (Tier C of SURVEY.md §2), adapted to the driver
fixture schemas.

The reference crate exists to serve the 22-query TPC-H benchmark through its
embedded engine (``/root/reference/README.md:13-14``); here each query is a
PySpark DataFrame program (Catalyst plans the joins/aggregates) plus a
DuckDB oracle string.  The driver fixtures carry a column subset of TPC-H
(FIXTURES.md: no ``partsupp``; lineitem lacks commit/receipt dates,
ship{mode,instruct}; no comment/phone/address columns), so queries that need
missing columns run in an **adapted** form that preserves the operator shape
(same joins, subquery patterns, aggregations) over the available columns.
Adaptations are documented per query.  Money aggregates use the
decimal-exact helpers (functions.exact) so value hashes match the oracle
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import (
    davg, davg_over, davg_sql, dsum, dsum_q, dsum_sql, unq,
)
from ..operators.reuse import evaluate_once
from . import QuerySpec


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load fixture tables; also pin the session timezone to UTC so
    timestamp results round-trip identically to the DuckDB oracle even if
    the driver's session was built with other defaults."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [load_table(spark, sf_dir, n) for n in names]


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q1 — pricing summary report (runs verbatim on fixtures)
# ---------------------------------------------------------------------------

def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier. Adapted: fixtures have no partsupp, so the
# part↔supplier relation (and its supply cost) is derived from lineitem:
# supplycost(part, supp) = MIN(l_extendedprice / l_quantity). Preserves the
# correlated-scalar-subquery shape (reference workload: per-part MIN).
# ---------------------------------------------------------------------------

def _ps_surrogate(li: DataFrame) -> DataFrame:
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost")
    )


_PS_SQL = """
SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       MIN(l_extendedprice / l_quantity) AS ps_supplycost
FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part, supp, nat, reg = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    ps = _ps_surrogate(li)
    europe = (
        ps.join(supp, ps.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
              nat.n_regionkey == reg.r_regionkey)
    )
    # the per-part MIN is a p_partkey-window over the part-joined europe
    # rows, not a groupBy + join back onto europe: the correlated-subquery
    # form evaluated the whole europe subtree (lineitem agg + 3 joins)
    # twice and merged the copies with a sort-merge join; the window form
    # evaluates it once behind one l_partkey exchange.  Equivalent because
    # the min is per part key and the part join is a key-equality against
    # unique p_partkey — it multiplies no europe rows and prunes only
    # whole partitions, so the surviving groups' minima are unchanged.
    p = part.filter((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
    pw = Window.partitionBy("p_partkey")
    return (
        europe.join(F.broadcast(p), europe.l_partkey == p.p_partkey)
        .withColumn("min_cost", F.min("ps_supplycost").over(pw))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_SQL = f"""
WITH ps AS ({_PS_SQL}),
europe AS (
  SELECT ps.*, s_acctbal, s_name, n_name
  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM europe JOIN part ON ps_partkey = p_partkey
WHERE p_size = 15 AND p_type = 'LARGE'
  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM europe e2
                       WHERE e2.ps_partkey = europe.ps_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q3 — shipping priority. Adapted: o_orderpriority in place of the missing
# o_shippriority column.
# ---------------------------------------------------------------------------

def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("o_orderdate") < _ts("1998-03-15"))
            & (F.col("l_shipdate") > _ts("1998-03-15"))
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking. Adapted: the commit/receipt-date lateness
# test (l_commitdate < l_receiptdate) becomes "shipped more than 30 days
# after the order date". Preserves the EXISTS → left-semi-join shape.
# ---------------------------------------------------------------------------

def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= _ts("1997-07-01"))
        & (F.col("o_orderdate") < _ts("1997-10-01"))
    )
    return (
        o.join(
            li,
            F.expr("l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (runs on fixtures; supplier joined on nationkey)
# ---------------------------------------------------------------------------

def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, supp, nat, reg = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
              nat.n_regionkey == reg.r_regionkey)
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1997-01-01"))
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


Q5_SQL = f"""
SELECT n_name, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# Q6 — revenue forecast (runs verbatim on fixtures)
# ---------------------------------------------------------------------------

def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


Q6_SQL = f"""
SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------

def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, supp, nat = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation"
    )
    n1 = nat.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .filter(F.col("l_shipdate").between(_ts("1996-01-01"), _ts("1997-12-31")))
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS volume
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# Q8 — national market share. Adapted: p_type = 'ECONOMY' (fixture types are
# single words).
# ---------------------------------------------------------------------------

def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, li, orders, cust, supp, nat, reg = _t(
        spark, sf_dir, "part", "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    n1 = nat.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = nat.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        part.filter(F.col("p_type") == "ECONOMY")
        .join(li, part.p_partkey == li.l_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
              F.col("c_rk") == reg.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
        .filter(F.col("o_orderdate").between(_ts("1996-01-01"), _ts("1997-12-31")))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"),
                F.col("supp_nation"))
    )
    return (
        base.groupBy("o_year")
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / dsum(F.col("volume"))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       ({dsum_sql("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
        / {dsum_sql('l_extendedprice * (1 - l_discount)')}) AS mkt_share
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# Q9 — product-type profit. Adapted: no ps_supplycost on fixtures, so profit
# is the discounted revenue term only; part filter on the fixture p_name
# vocabulary ('%red%').
# ---------------------------------------------------------------------------

def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, li, orders, supp, nat = _t(
        spark, sf_dir, "part", "lineitem", "orders", "supplier", "nation"
    )
    return (
        part.filter(F.col("p_name").like("%red%"))
        .join(li, part.p_partkey == li.l_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting. Adapted: c_mktsegment replaces the missing
# address/phone/comment output columns.
# ---------------------------------------------------------------------------

def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, nat = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1997-04-01"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q11 — important stock identification. Adapted: part "value" held by a
# nation's suppliers is derived from lineitem (extendedprice sums) instead of
# partsupp availqty×supplycost. Preserves the HAVING-vs-global-scalar shape.
# ---------------------------------------------------------------------------

def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, supp, nat = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    base = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat.filter(F.col("n_name") == "NATION_0")),
              supp.s_nationkey == nat.n_nationkey)
    )
    per_part = base.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("value")
    )
    total = base.agg(dsum(F.col("l_extendedprice")).alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("tot") * 0.001)
        .select(F.col("l_partkey").alias("ps_partkey"), "value")
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


Q11_SQL = f"""
WITH base AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_0')
SELECT l_partkey AS ps_partkey, {dsum_sql('l_extendedprice')} AS value
FROM base
GROUP BY l_partkey
HAVING {dsum_sql('l_extendedprice')} >
       (SELECT {dsum_sql('l_extendedprice')} * 0.001 FROM base)
ORDER BY value DESC, ps_partkey
"""


# ---------------------------------------------------------------------------
# Q12 — shipping-mode / priority. Adapted: l_returnflag groups in place of
# the missing l_shipmode; "late" = shipped >60 days after order date in
# place of the commit/receipt-date comparison. Preserves join + CASE-sum.
# ---------------------------------------------------------------------------

def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    low = F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_returnflag").isin("A", "R"))
        .filter(F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY"))
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1998-01-01"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(low).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag IN ('A', 'R')
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution. Adapted: the o_comment NOT LIKE
# filter becomes an order-priority exclusion; the non-key predicate stays in
# the LEFT JOIN's ON clause (the shape Q13 exists to test).
# ---------------------------------------------------------------------------

def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    c_orders = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Q14 — promotion effect. Adapted: p_type = 'PROMO' (single-word types).
# ---------------------------------------------------------------------------

def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("l_shipdate") >= _ts("1997-09-01"))
            & (F.col("l_shipdate") < _ts("1997-10-01"))
        )
        .agg((F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue"))
    )


Q14_SQL = f"""
SELECT 100.0 * {dsum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
       / {dsum_sql('l_extendedprice * (1 - l_discount)')} AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-subquery MAX form, plus a window-function
# variant registered separately as q15_window).
# ---------------------------------------------------------------------------

def _revenue_per_supplier(li: DataFrame) -> DataFrame:
    return evaluate_once(
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01"))
            & (F.col("l_shipdate") < _ts("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")),
        not_null=("l_suppkey",),
    )


_REVENUE_SQL = f"""
SELECT l_suppkey AS supplier_no, {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
GROUP BY l_suppkey
"""


def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    rev = _revenue_per_supplier(li)
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        supp.join(rev, supp.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS ({_REVENUE_SQL})
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q15_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function variant (SURVEY §2.5): dense_rank over revenue.

    Scale-safe form: ``dense_rank() = 1`` is exactly ``total_revenue =
    max(total_revenue)``, so the max is reduced first (scalar broadcast)
    and the partition-less rank window runs only over the tie set at the
    max — never over the supplier-cardinality revenue table, which would
    serialize through one task at scale."""
    from pyspark.sql.window import Window

    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    rev = _revenue_per_supplier(li)
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    cand = rev.join(
        F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue")
    ).drop("max_revenue")
    w = Window.orderBy(F.col("total_revenue").desc())
    ranked = cand.withColumn("rnk", F.dense_rank().over(w)).filter(
        F.col("rnk") == 1
    )
    return (
        supp.join(ranked, supp.s_suppkey == ranked.l_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_WINDOW_SQL = f"""
WITH revenue AS ({_REVENUE_SQL}),
ranked AS (SELECT *, DENSE_RANK() OVER (ORDER BY total_revenue DESC) AS rnk FROM revenue)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN ranked ON s_suppkey = supplier_no
WHERE rnk = 1
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship. Adapted: part↔supplier pairs from
# lineitem; "customer complaints" exclusion becomes negative account balance.
# Preserves COUNT(DISTINCT) + NOT IN anti-join.
# ---------------------------------------------------------------------------

def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part, supp = _t(spark, sf_dir, "lineitem", "part", "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "SMALL")
            & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        )
        .join(bad, pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated scalar AVG per part).
# Adapted: p_container filter dropped (column absent).
# ---------------------------------------------------------------------------

def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    brand = part.filter(F.col("p_brand") == "Brand#3")
    # The correlated scalar AVG is a per-part window over the SAME
    # lineitem⋈brand frame the outer query reads: a groupBy + join-back
    # would evaluate that subtree twice (Catalyst shares no subtrees), so
    # the exact average rides one l_partkey exchange instead.
    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .withColumn("avg_qty", davg_over(F.col("l_quantity"), w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


Q17_SQL = f"""
SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * {davg_sql('l_quantity')}
                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""


# ---------------------------------------------------------------------------
# Q18 — large-volume customers. Adapted threshold (fixture orders have ≤7
# lines × qty ≤ 50, so 150 instead of 300).
# ---------------------------------------------------------------------------

def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate lineitem ONCE at the order grain: the query's final
    # per-(customer, order) sum is exactly the per-order quantity sum the
    # big-order filter already computes (o_orderkey is unique in orders,
    # c_custkey in customer, so the dimension joins never multiply rows).
    # The previous shape scanned lineitem a second time through the
    # orders semi-join and re-aggregated over a 5-column key (guide §2.4:
    # one aggregation, one grain, no join-back).
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, {dsum_sql('l_quantity')} AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING {dsum_sql('l_quantity')} > 150)
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (OR-of-conjunction predicate groups). Adapted:
# shipmode/shipinstruct conjuncts dropped (columns absent).
# ---------------------------------------------------------------------------

def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    g1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 5))
        & (F.col("l_quantity").between(1, 11))
    )
    g2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(10, 20))
    )
    g3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(g1 | g2 | g3)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q19_SQL = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# Q20 — potential part promotion. Adapted: "availqty > half of shipped qty"
# becomes "supplier ships more than half of a red part's 1997 volume"
# (lineitem-derived). Preserves nested IN-subquery + HAVING shape.
# ---------------------------------------------------------------------------

def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part, supp, nat = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    li97 = li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    ).join(F.broadcast(red), li.l_partkey == red.p_partkey)
    # Both aggregation grains read the same li97 frame; keeping the
    # per-pair sum as its quantized DECIMAL partial (dsum_q) lets the
    # per-part total be an exact window re-sum of those partials — one
    # li97 evaluation and no pair⋈part join-back, with bit-identical
    # doubles after unq (decimal addition is exact at any grouping).
    # One l_partkey exchange serves both grains: HashPartitioning on
    # l_partkey satisfies the (l_partkey, l_suppkey) groupBy's clustered
    # distribution AND the per-part window's, so neither inserts another
    # shuffle.
    w = Window.partitionBy("l_partkey")
    per_pair = li97.repartition("l_partkey").groupBy(
        "l_partkey", "l_suppkey"
    ).agg(dsum_q(F.col("l_quantity")).alias("sq_q"))
    dominant = (
        per_pair.select(
            "l_suppkey",
            unq(F.col("sq_q")).alias("sq"),
            unq(F.sum("sq_q").over(w)).alias("tq"),
        )
        .filter(F.col("sq") > 0.5 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


Q20_SQL = f"""
WITH li97 AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'))
SELECT s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT a.l_suppkey
  FROM (SELECT l_partkey, l_suppkey, {dsum_sql('l_quantity')} AS sq
        FROM li97 GROUP BY l_partkey, l_suppkey) a
  JOIN (SELECT l_partkey, {dsum_sql('l_quantity')} AS tq
        FROM li97 GROUP BY l_partkey) b
    ON a.l_partkey = b.l_partkey
  WHERE a.sq > 0.5 * b.tq)
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting. Adapted: "late" = shipped >60
# days after order date (no receipt/commit dates on fixtures). Preserves the
# EXISTS (semi) + NOT EXISTS (anti) with <> correlation.
# ---------------------------------------------------------------------------

def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS / NOT EXISTS as order-grain supplier extrema instead of two
    # more lineitem passes (guide §2.4).  "Some OTHER supplier in the
    # order" == the order has >= 2 distinct suppliers == min != max over
    # ALL its lineitems (one aggregate, the only extra lineitem scan).
    # "No OTHER supplier was late" == every late row of the order carries
    # the same suppkey == min == max over the order's LATE rows — a
    # window riding the late rows' own order-key partitioning, no new
    # exchange and no third scan.  Row multiplicity matches the original
    # semi/anti pair: every late row of the lone late supplier survives.
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    multi = (
        li.groupBy(F.col("l_orderkey").alias("k2"))
        .agg(
            F.min("l_suppkey").alias("_mn"),
            F.max("l_suppkey").alias("_mx"),
        )
        .filter(F.col("_mn") != F.col("_mx"))
        .select("k2")
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderstatus") == "F")
        .filter(F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        late.withColumn("_lmn", F.min("l_suppkey").over(w))
        .withColumn("_lmx", F.max("l_suppkey").over(w))
        .filter(F.col("_lmn") == F.col("_lmx"))
        .join(multi, F.col("l_orderkey") == F.col("k2"), "left_semi")
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity. Adapted: "country code" = first digit of
# the customer number in c_name (fixtures have no c_phone). Preserves
# substring + AVG scalar subquery + NOT EXISTS anti-join.
# ---------------------------------------------------------------------------

def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    codes = ["0", "1", "2", "3", "4"]
    cc = F.substring(F.col("c_name"), 10, 1)
    eligible = cust.withColumn("cntrycode", cc).filter(F.col("cntrycode").isin(codes))
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    # "no orders in the last 8 months" — fixture customers all have orders
    # over the full range, so the classic NOT EXISTS is restricted to recent
    # orders to stay non-degenerate.
    recent = orders.filter(F.col("o_orderdate") >= _ts("2001-01-01"))
    return (
        eligible.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, eligible.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = f"""
SELECT cntrycode, COUNT(*) AS numcust, {dsum_sql('c_acctbal')} AS totacctbal
FROM (SELECT substr(c_name, 10, 1) AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE substr(c_name, 10, 1) IN ('0','1','2','3','4')) c
WHERE c_acctbal > (SELECT {davg_sql('c_acctbal')}
                   FROM customer
                   WHERE c_acctbal > 0.0
                     AND substr(c_name, 10, 1) IN ('0','1','2','3','4'))
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


# ---------------------------------------------------------------------------
# Tier-B surface: LIMIT scan (reference examples/tpchgen.rs:18-37). Ordered
# so the result is deterministic for the oracle hash.
# ---------------------------------------------------------------------------

def limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    (nat,) = _t(spark, sf_dir, "nation")
    return nat.orderBy("n_nationkey").limit(5)


LIMIT_SCAN_SQL = "SELECT * FROM nation ORDER BY n_nationkey LIMIT 5"


SPECS: list[QuerySpec] = [
    QuerySpec("q1", q1, Q1_SQL, "pricing summary report"),
    QuerySpec("q2", q2, Q2_SQL, "min-cost supplier (lineitem-derived partsupp)"),
    QuerySpec("q3", q3, Q3_SQL, "shipping priority top-10"),
    QuerySpec("q4", q4, Q4_SQL, "order priority w/ EXISTS semi-join"),
    QuerySpec("q5", q5, Q5_SQL, "local supplier volume, 6-way join"),
    QuerySpec("q6", q6, Q6_SQL, "revenue forecast, global agg"),
    QuerySpec("q7", q7, Q7_SQL, "volume shipping between nations"),
    QuerySpec("q8", q8, Q8_SQL, "national market share"),
    QuerySpec("q9", q9, Q9_SQL, "product-type profit"),
    QuerySpec("q10", q10, Q10_SQL, "returned-item reporting top-20"),
    QuerySpec("q11", q11, Q11_SQL, "important stock, HAVING vs scalar subquery"),
    QuerySpec("q12", q12, Q12_SQL, "shipping priority CASE-sums"),
    QuerySpec("q13", q13, Q13_SQL, "order-count distribution, outer join"),
    QuerySpec("q14", q14, Q14_SQL, "promotion effect"),
    QuerySpec("q15", q15, Q15_SQL, "top supplier, scalar MAX"),
    QuerySpec("q15_window", q15_window, Q15_WINDOW_SQL, "top supplier via window fn"),
    QuerySpec("q16", q16, Q16_SQL, "supplier-cnt distinct + NOT IN"),
    QuerySpec("q17", q17, Q17_SQL, "small-qty revenue, correlated AVG"),
    QuerySpec("q18", q18, Q18_SQL, "large-volume customers"),
    QuerySpec("q19", q19, Q19_SQL, "OR-group discounted revenue"),
    QuerySpec("q20", q20, Q20_SQL, "dominant-supplier promotion"),
    QuerySpec("q21", q21, Q21_SQL, "waiting suppliers, semi+anti"),
    QuerySpec("q22", q22, Q22_SQL, "sales opportunity, anti-join + AVG subquery"),
    QuerySpec("limit_scan", limit_scan, LIMIT_SCAN_SQL, "Tier-B LIMIT scan"),
]
