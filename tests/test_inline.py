"""inline_table must be a drop-in for createDataFrame on literal rows:
identical schema and values, but a LocalRelation (no parallelized RDD)."""

from __future__ import annotations

import math

from datafusion_tpch_spark.inline import inline_table


def _same(spark, rows, schema):
    got = inline_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    # names + types must match exactly; nullability may be TIGHTER for the
    # inline form (VALUES proves non-null), which no consumer can observe
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ], (got.schema, want.schema)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    return got


def test_inline_matches_createdataframe_scalars(spark):
    _same(
        spark,
        [("a", 1, 1.5, True), ("it's", -2, 0.1, False), ("c\\d", 0, 2.0, None)],
        "s string, i int, d double, b boolean",
    )


def test_inline_matches_createdataframe_arrays_and_nulls(spark):
    _same(
        spark,
        [(1, [1.0, 0.25, -3.5]), (2, None), (3, [])],
        "k long, v array<double>",
    )


def test_inline_float_roundtrip_exact(spark):
    vals = [0.1, 2.0 / 3.0, 1e-300, 1.7976931348623157e308, float("nan"), -0.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = {r.i: r.v for r in inline_table(spark, rows, "i int, v double").collect()}
    for i, v in enumerate(vals):
        if math.isnan(v):
            assert math.isnan(got[i])
        else:
            assert got[i] == v, (got[i], v)
            # signed zero must survive (a bare decimal literal would lose it)
            if v == 0.0:
                assert math.copysign(1.0, got[i]) == math.copysign(1.0, v)


def test_inline_empty_rows(spark):
    df = inline_table(spark, [], "a string, b int")
    assert df.collect() == []
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_inline_is_local_relation(spark):
    plan = inline_table(spark, [(1,)], "x int")._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan


def test_inline_packed_numeric_array_exact(spark):
    """Numeric arrays render as one split('…') string literal (the parse
    cost of 8k element literals measured seconds on the centroid
    tables); the packed form must stay bit-identical to the element
    form, including specials, None elements, and float targets."""
    vals = [0.1, 2.0 / 3.0, 1e-300, float("nan"), float("inf"),
            float("-inf"), -0.0, None]
    row = inline_table(
        spark, [(1, vals)], "k long, v array<double>"
    ).collect()[0]
    got = list(row.v)
    assert math.isnan(got[3]) and got[4] == float("inf") and got[5] == float("-inf")
    assert got[7] is None
    assert got[:3] == vals[:3]
    assert math.copysign(1.0, got[6]) < 0  # signed zero survives
    # float32 target: exact for float32-representable inputs
    frow = inline_table(
        spark, [(1, [1.5, -0.25, None])], "k long, v array<float>"
    ).collect()[0]
    assert list(frow.v) == [1.5, -0.25, None]


def test_inline_string_array_not_packed(spark):
    """String arrays must keep the element-literal form — packing would
    corrupt elements containing the delimiter."""
    row = inline_table(
        spark, [(1, ["a,b", "c"])], "k long, v array<string>"
    ).collect()[0]
    assert list(row.v) == ["a,b", "c"]


def test_inline_float_into_integral_array_matches_literal_cast(spark):
    """A float element bound for an integral element type must take the
    literal-array path: the packed form's STRING->int cast yields NULL
    for '2.5' where the double->int cast truncates to 2 (round-14
    advisor note — latent until a caller declares array<int>)."""
    row = inline_table(
        spark, [(1, [2.5, 3.0, None])], "k long, v array<int>"
    ).collect()[0]
    assert list(row.v) == [2, 3, None]
    # all-int elements still pack exactly into integral targets
    row = inline_table(
        spark, [(1, [7, 8])], "k long, v array<bigint>"
    ).collect()[0]
    assert list(row.v) == [7, 8]


def test_inline_row_wider_than_schema_raises(spark):
    """A row with more values than the schema has columns must fail, not
    lose its extra values (zip truncates silently)."""
    import pytest

    with pytest.raises(ValueError, match=r"row 1 has 3 values .* 2 columns"):
        inline_table(spark, [(1, "a"), (2, "b", "extra")], "k int, s string")


def test_inline_row_narrower_than_schema_raises(spark):
    import pytest

    with pytest.raises(ValueError, match=r"row 0 has 1 values .* 2 columns"):
        inline_table(spark, [(1,), (2, "b")], "k int, s string")
