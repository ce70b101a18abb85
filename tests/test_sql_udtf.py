"""SQL table-function surface parity with the reference's own test suite
(src/lib.rs:323-477), run entirely through spark.sql:

- per-table ``tpch_<t>(sf)`` shape checks (their first two tests),
- the bulk ``tpch(sf)`` listing + bare-name registration (their third),
- plus guarantees the reference does NOT have: value-identity between
  the SQL and DataFrame row sources of the one projection text,
  part/num_parts composition via LATERAL join (the distributed SQL
  spelling), empty slices, and argument validation inside the JVM.
"""

from __future__ import annotations

import re

import pytest

from datafusion_tpch_spark.sources.tpch_gen import (
    GENERATORS,
    register_tpch,
    register_tpch_udtfs,
)

SF = 0.001

# (table, rows at SF, columns) — column counts are the reference's asserted
# 4/8/9/16/9/5/7/3 (src/lib.rs:335-344); row counts are this repo's exact
# deterministic cardinalities at sf0.001 (see test_tpch_gen for the pin).
EXPECTED = [
    ("nation", 25, 4),
    ("customer", 150, 8),
    ("orders", 1500, 9),
    ("lineitem", 6005, 16),
    ("part", 200, 9),
    ("partsupp", 800, 5),
    ("supplier", 10, 7),
    ("region", 5, 3),
]


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_tpch_udtfs(spark)


@pytest.mark.parametrize("table,n_rows,n_cols", EXPECTED, ids=[e[0] for e in EXPECTED])
def test_register_all_tpch_functions_sql(spark, table, n_rows, n_cols):
    """Mirror of test_register_all_tpch_functions (src/lib.rs:324-370):
    SELECT * FROM tpch_<t>(sf) straight from SQL, shape-asserted."""
    df = spark.sql(f"SELECT * FROM tpch_{table}({SF})")
    assert len(df.columns) == n_cols
    assert df.count() == n_rows


def test_tpch_provider_listing_sql(spark):
    """Mirror of test_register_tpch_provider (src/lib.rs:424-477): the bulk
    tpch(sf) call returns the 8-row, 1-column listing; the reference's
    plan-time side effect (bare-name registration) is the Python call
    register_tpch — same listing, same catalog result."""
    rows = spark.sql(f"SELECT * FROM tpch({SF}, '')").collect()
    assert len(rows) == 8 and rows[0].__fields__ == ["table_name"]
    listing = register_tpch(spark, SF)
    assert [r.table_name for r in listing.collect()] == [r.table_name for r in rows]
    for table, n_rows, n_cols in EXPECTED:
        df = spark.sql(f"SELECT * FROM {table}")
        assert len(df.columns) == n_cols
        assert df.count() == n_rows


@pytest.mark.parametrize("table", sorted(GENERATORS), ids=sorted(GENERATORS))
def test_sql_values_identical_to_dataframe_path(spark, table):
    """Beyond the reference: the SQL table function's rows are identical
    to the distributed DataFrame generator's rows, schema included (one
    projection text over two row sources)."""
    sql = spark.sql(f"SELECT * FROM tpch_{table}({SF})")
    df = GENERATORS[table](spark, SF)
    assert sql.schema == df.schema
    assert sorted(tuple(r) for r in sql.collect()) == sorted(tuple(r) for r in df.collect())


def test_lateral_parts_compose_sql(spark):
    """The distributed SQL spelling: a LATERAL join over part ids unions to
    exactly the whole table (one task per part — the reference validates
    part/num_parts but silently ignores them, src/lib.rs:93-106)."""
    whole = sorted(
        tuple(r) for r in spark.sql(f"SELECT * FROM tpch_orders({SF})").collect()
    )
    parts = sorted(
        tuple(r)
        for r in spark.sql(
            f"SELECT t.* FROM range(1, 5) AS r, "
            f"LATERAL tpch_orders({SF}, CAST(r.id AS INT), 4) AS t"
        ).collect()
    )
    assert parts == whole


def test_tpch_path_flush(spark, tmp_path):
    """tpch(sf, path): the reference documents the path arg
    (src/lib.rs:277-279) but its call() never reads it (src/lib.rs:282-290).
    Here a non-empty path is refused with an error naming the statement
    that exports each table, and those 8 statements write every table to
    <path>/<table>.parquet with the reference's shapes."""
    out = str(tmp_path / "flush")
    refusal = re.escape(f"INSERT OVERWRITE DIRECTORY '{out}/<t>.parquet' USING parquet")
    with pytest.raises(Exception, match=refusal):
        spark.sql(f"SELECT * FROM tpch({SF}, '{out}')").collect()
    for table, _, _ in EXPECTED:
        spark.sql(
            f"INSERT OVERWRITE DIRECTORY '{out}/{table}.parquet' USING parquet "
            f"SELECT * FROM tpch_{table}({SF})"
        )
    for table, n_rows, n_cols in EXPECTED:
        df = spark.read.parquet(f"{out}/{table}.parquet")
        assert df.count() == n_rows, table
        assert len(df.columns) == n_cols, table


# 1e-7 scales supplier, customer and orders to 0 rows: an empty slice.
@pytest.mark.parametrize("table", ["supplier", "customer", "orders"])
def test_empty_slice_yields_no_rows(spark, table):
    assert spark.sql(f"SELECT * FROM tpch_{table}(1e-7)").count() == 0
    assert GENERATORS[table](spark, 1e-7).count() == 0


@pytest.mark.parametrize(
    "call,message",
    [
        ("tpch_orders(-1.0)", "scale factor must be > 0, got -1.0"),
        (f"tpch_orders({SF}, 5, 4)", "part 5 out of range 1..4"),
        (f"tpch_orders({SF}, 0, 0)", "part/num_parts must be > 0, got 0/0"),
        ("tpch_orders(1e-7, 5, 4)", "part 5 out of range 1..4"),
        ("tpch_orders(1e-7, 0, 0)", "part/num_parts must be > 0, got 0/0"),
        ("tpch(-1.0)", "scale factor must be > 0, got -1.0"),
    ],
    ids=["negative_sf", "part_past_num_parts", "zero_parts",
         "part_past_num_parts_empty", "zero_parts_empty", "listing_negative_sf"],
)
def test_bad_args_raise_sql(spark, call, message):
    """The DataFrame path's ValueError contract, raised inside the JVM:
    checked on the one source row, so an empty slice raises too."""
    with pytest.raises(Exception, match=message):
        spark.sql(f"SELECT * FROM {call}").collect()


def test_sql_path_runs_no_python(spark):
    """The table functions are Catalyst plans, not Python UDTFs."""
    df = spark.sql("SELECT * FROM tpch_lineitem(0.01)")
    df.collect()
    assert "EvalPythonUDTF" not in df._jdf.queryExecution().executedPlan().toString()
