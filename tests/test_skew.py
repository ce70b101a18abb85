"""Salted join == plain join, row for row."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.operators.skew import salted_join

SF_DIR = "/root/testdata/sf0.001"


def test_salted_inner_join_equals_plain(spark):
    lineitem = load_table(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    plain = lineitem.join(orders, ["o_orderkey"], "inner")
    salted = salted_join(lineitem, orders, ["o_orderkey"], salt_n=8)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_equals_plain(spark):
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    plain = cust.join(orders, ["c_custkey"], "left")
    salted = salted_join(cust, orders, ["c_custkey"], how="left", salt_n=4)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0

