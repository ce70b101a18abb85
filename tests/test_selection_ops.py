"""Spark-level unit tests for operators/selection.py.

test_selection_algebra.py property-tests the pure algebra these
operators rely on; here each operator runs on a real (tiny) DataFrame
and is checked against the single-machine reference computation,
including the edge cases the algebra tests can't see: empty range
shards (num_ranges > #rows), exclusive-frame nulls on the first row of
the order, and groups smaller than k.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from datafusion_tpch_spark.operators.selection import (
    rank_thresholds,
    salted_topk,
    sharded_prefix,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# sharded_prefix
# ---------------------------------------------------------------------------


def test_prefix_sum_inclusive_matches_running_total(spark):
    rows = [(i, v) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6])]
    out = sharded_prefix(
        _df(spark, rows, "k int, v int"),
        order_by=["k"],
        value=F.col("v"),
        agg="sum",
        num_ranges=3,
    )
    got = {r.k: r.prefix for r in out.collect()}
    run, want = 0, {}
    for k, v in rows:
        run += v
        want[k] = run
    assert got == want


def test_prefix_sum_exclusive_first_row_is_zero(spark):
    rows = [(1, 10), (2, 20), (3, 30)]
    out = sharded_prefix(
        _df(spark, rows, "k int, v int"),
        order_by=["k"],
        value=F.col("v"),
        agg="sum",
        inclusive=False,
        num_ranges=2,
    )
    got = {r.k: r.prefix for r in out.collect()}
    # exclusive sum: carry-in coalesces to 0, so the first row reads 0
    assert got == {1: 0, 2: 10, 3: 30}


def test_prefix_max_exclusive_null_on_global_first(spark):
    rows = [(1, 5), (2, 3), (3, 7), (4, 2)]
    out = sharded_prefix(
        _df(spark, rows, "k int, v int"),
        order_by=["k"],
        value=F.col("v"),
        agg="max",
        inclusive=False,
        num_ranges=3,
    )
    got = {r.k: r.prefix for r in out.collect()}
    # strictly-previous-row max: null iff no predecessor exists anywhere
    assert got == {1: None, 2: 5, 3: 5, 4: 7}


def test_prefix_sum_partitioned_groups_independent(spark):
    rows = [("a", 1, 1), ("b", 2, 10), ("a", 3, 2), ("b", 4, 20), ("a", 5, 3)]
    out = sharded_prefix(
        _df(spark, rows, "g string, k int, v int"),
        order_by=["k"],
        value=F.col("v"),
        agg="sum",
        partition_by=["g"],
        num_ranges=2,
    )
    got = {(r.g, r.k): r.prefix for r in out.collect()}
    assert got == {
        ("a", 1): 1, ("a", 3): 3, ("a", 5): 6,
        ("b", 2): 10, ("b", 4): 30,
    }


def test_prefix_more_ranges_than_rows(spark):
    # empty shards must not perturb the carry chain
    rows = [(1, 1), (2, 1)]
    out = sharded_prefix(
        _df(spark, rows, "k int, v int"),
        order_by=["k"],
        value=F.col("v"),
        agg="sum",
        num_ranges=16,
    )
    assert {r.k: r.prefix for r in out.collect()} == {1: 1, 2: 2}


def test_prefix_rejects_map_column(spark):
    """Input contract: ``df`` carries scalar columns only.  A MapType
    column fails analysis at once (evaluate_once hashes every column and
    Spark's hash() rejects maps), never silently at run time."""
    df = spark.createDataFrame(
        [(1, 1, {"a": 1})], "k int, v int, m map<string, int>"
    )
    with pytest.raises(AnalysisException, match="HASH_MAP_TYPE"):
        sharded_prefix(
            df, order_by=["k"], value=F.col("v"), agg="sum", num_ranges=2
        )


# ---------------------------------------------------------------------------
# salted_topk
# ---------------------------------------------------------------------------


def test_salted_topk_matches_global_sort(spark):
    rows = [("g", v) for v in [9, 1, 8, 2, 7, 3, 6, 4, 5]] + [("h", 42)]
    out = salted_topk(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        key=F.col("v"),
        k=3,
        salt=F.pmod(F.col("v"), F.lit(4)),
    )
    got = {r.g: r.topk for r in out.collect()}
    assert got["g"] == [1, 2, 3]
    # group smaller than k keeps what it has
    assert got["h"] == [42]


def test_salted_topk_extras_sum_exact_counts(spark):
    rows = [("g", v) for v in range(10)]
    out = salted_topk(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        key=F.col("v"),
        k=2,
        salt=F.pmod(F.col("v"), F.lit(3)),
        extras_partial=[F.count(F.lit(1)).alias("c")],
        extras_final=[F.sum("c").alias("n")],
    )
    row = out.collect()[0]
    # each row lands in exactly one salt shard -> summed counts are exact
    assert row.n == 10 and row.topk == [0, 1]


# ---------------------------------------------------------------------------
# rank_thresholds
# ---------------------------------------------------------------------------


def test_rank_thresholds_median_and_count(spark):
    rows = [("a", v) for v in [5, 1, 3, 3, 2]] + [("b", v) for v in [10, 20]]
    out = rank_thresholds(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        value_col="v",
        targets={"med": lambda n: F.floor((n + 1) / 2)},
        count_col="n",
    )
    got = {r.g: (r.med, r.n) for r in out.collect()}
    # sorted a: [1,2,3,3,5] -> rank 3 element = 3; b: [10,20] -> rank 1 = 10
    assert got == {"a": (3, 5), "b": (10, 2)}


def test_rank_thresholds_degenerate_single_value(spark):
    # span collapses to one bucket (mn == mx): must not divide by zero
    # or drop rows
    rows = [("g", 7)] * 5
    out = rank_thresholds(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        value_col="v",
        targets={"med": lambda n: F.floor((n + 1) / 2)},
        count_col="n",
    )
    assert [(r.med, r.n) for r in out.collect()] == [(7, 5)]


def test_rank_thresholds_negative_values(spark):
    # bucket transform must stay monotone over negative spans
    rows = [("g", v) for v in [-50, -3, 0, 2, 40]]
    out = rank_thresholds(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        value_col="v",
        targets={"p20": lambda n: F.ceil(F.lit(0.2) * n),
                 "p100": lambda n: n},
    )
    row = out.collect()[0]
    assert (row.p20, row.p100) == (-50, 40)


def test_rank_thresholds_duplicate_heavy_quantiles(spark):
    rows = [("g", 1)] * 97 + [("g", 100)] * 3
    out = rank_thresholds(
        _df(spark, rows, "g string, v int"),
        group_by=["g"],
        value_col="v",
        targets={
            "p50": lambda n: F.ceil(n / 2),
            "p99": lambda n: F.ceil(F.lit(0.99) * n),
        },
    )
    row = out.collect()[0]
    # cumulative over DISTINCT values: 1 covers ranks 1..97, 100 the rest
    assert (row.p50, row.p99) == (1, 100)
