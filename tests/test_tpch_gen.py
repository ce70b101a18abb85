"""Tier-A parity tests: the TPC-H generator source layer.

Mirrors the reference's own test strategy — exact row x column shape
assertions per table (`src/lib.rs:335-344`) — at a small
scale factor, and adds what the reference lacks: value determinism checks
and a real part/num_parts contract (the reference parses those args but
generates the whole table regardless, src/lib.rs:85-106).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_tpch_spark import TPCH_TABLES
from datafusion_tpch_spark.sources import tpch_gen

SF = 0.01

# column counts asserted by the reference at src/lib.rs:335-344
REF_SHAPES = {
    "nation": (25, 4),
    "region": (5, 3),
    "customer": (1500, 8),
    "orders": (15000, 9),
    "part": (2000, 9),
    "partsupp": (8000, 5),
    "supplier": (100, 7),
}


@pytest.mark.parametrize("table", sorted(REF_SHAPES))
def test_shapes_match_reference(spark, table):
    rows, cols = REF_SHAPES[table]
    df = tpch_gen.call_tpch(spark, table, SF)
    assert len(df.columns) == cols
    assert df.count() == rows


def test_lineitem_shape(spark):
    df = tpch_gen.call_tpch(spark, "lineitem", SF)
    assert len(df.columns) == 16
    n = df.count()
    # 1-7 lines per order, deterministic: strictly between 1x and 7x orders
    assert 15000 <= n <= 7 * 15000


def test_deterministic_across_builds(spark):
    a = tpch_gen.call_tpch(spark, "orders", SF)
    b = tpch_gen.call_tpch(spark, "orders", SF)
    ha = a.agg(F.sum(F.xxhash64(*a.columns))).collect()[0][0]
    hb = b.agg(F.sum(F.xxhash64(*b.columns))).collect()[0][0]
    assert ha == hb


def test_parts_union_equals_whole(spark):
    """The contract the reference advertises but ships broken: generating in
    num_parts slices and unioning reproduces the full table exactly."""
    whole = tpch_gen.call_tpch(spark, "customer", SF)
    parts = [tpch_gen.call_tpch(spark, "customer", SF, part=p, num_parts=4) for p in range(1, 5)]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    assert u.count() == whole.count()
    assert u.exceptAll(whole).count() == 0
    assert whole.exceptAll(u).count() == 0


def test_invalid_args_raise(spark):
    # the reference accepts 0 (validation bug src/lib.rs:100-102); we don't
    with pytest.raises(ValueError):
        tpch_gen.call_tpch(spark, "orders", SF, part=0, num_parts=0)
    with pytest.raises(ValueError):
        tpch_gen.call_tpch(spark, "orders", -1.0)
    with pytest.raises(ValueError):
        tpch_gen.call_tpch(spark, "orders", SF, part=5, num_parts=4)
    with pytest.raises(ValueError):
        tpch_gen.call_tpch(spark, "nosuch", SF)


def test_register_tpch_bulk(spark):
    """Bulk tpch(sf): 8 temp views + 1-column listing DataFrame — the
    reference's tpch() side-effect contract (src/lib.rs:425-477)."""
    listing = tpch_gen.register_tpch(spark, SF)
    rows = [r.table_name for r in listing.collect()]
    assert sorted(rows) == sorted(TPCH_TABLES)
    assert listing.columns == ["table_name"]
    for t in TPCH_TABLES:
        assert spark.sql(f"SELECT * FROM {t} LIMIT 1").count() == 1


def test_foreign_keys_resolve(spark):
    """Every generated FK lands on an existing PK (the property queries
    depend on; the reference delegates it to tpchgen)."""
    n = tpch_gen.call_tpch(spark, "nation", SF)
    c = tpch_gen.call_tpch(spark, "customer", SF)
    o = tpch_gen.call_tpch(spark, "orders", SF)
    assert c.join(n, c.c_nationkey == n.n_nationkey, "left_anti").count() == 0
    assert o.join(c, o.o_custkey == c.c_custkey, "left_anti").count() == 0


def test_udtf_registration(spark):
    # full SQL surface under the reference's exact names (deep coverage in
    # test_sql_udtf.py; this pins the tpch_gen-level entry point)
    tpch_gen.register_tpch_udtfs(spark)
    assert spark.sql("SELECT * FROM tpch_nation(0.01)").count() == 25
    assert spark.sql("SELECT * FROM tpch_region(0.01)").count() == 5


# Exact deterministic cardinalities for every table at two SFs, mirroring
# the reference's shape assertions (src/lib.rs:335-344).  All 8 tables
# match tpchgen exactly: the seven formula-sized tables by construction,
# and lineitem because the line count per order replays the public TPC-H
# generators' Lehmer-LCG stream in closed form (tpch_gen._line_count).
EXACT_COUNTS = {
    0.001: {"region": 5, "nation": 25, "supplier": 10, "customer": 150,
            "part": 200, "partsupp": 800, "orders": 1500, "lineitem": 6005},
    0.01: {"region": 5, "nation": 25, "supplier": 100, "customer": 1500,
           "part": 2000, "partsupp": 8000, "orders": 15000, "lineitem": 60175},
}


@pytest.mark.parametrize("sf", sorted(EXACT_COUNTS))
def test_exact_cardinalities(spark, sf):
    for table, want in EXACT_COUNTS[sf].items():
        assert tpch_gen.call_tpch(spark, table, sf).count() == want, (table, sf)


def test_lineitem_sf1_constant(spark):
    """The reference's own SF1 shape assertion, ported: lineitem =
    6,001,215 rows (src/lib.rs:339).  Checked by evaluating the
    generator's closed-form LCG line-count expression in Spark over the
    1.5M SF1 order indices, at the DataFrame path's unroll width and at
    the SQL functions' any-sf width, plus a brute sequential replay of the
    stream to prove the closed form IS the sequential RNG."""
    n_orders = 1_500_000
    widths = (n_orders.bit_length(), tpch_gen._SQL_LCG_WIDTH)
    df = spark.range(n_orders).selectExpr(
        "id", *(f"{tpch_gen._line_count('id', w)} AS n{w}" for w in widths)
    )
    sums = df.agg(*(F.sum(f"n{w}") for w in widths)).collect()[0]
    assert list(sums) == [6_001_215] * len(widths)
    # sequential replay over a prefix — closed form == the actual stream
    head = df.where("id < 1000").orderBy("id").collect()
    assert len(head) == 1000
    seed, m, mul = 1434868289, 2147483647, 16807
    for i, row in enumerate(head):
        seed = (seed * mul) % m
        assert [row[f"n{w}"] for w in widths] == [(seed * 7) // m + 1] * len(widths), i


# count and sum(xxhash64(all columns)) of every table at sf0.001: pins the
# generated values themselves, so a helper change that moves every value
# (and keeps both row sources equal to each other) fails here.
VALUE_PINS = {
    "region": (5, 7342762572660382484),
    "nation": (25, -3262017122910428516),
    "customer": (150, 1527369154156433353),
    "supplier": (10, 359864420706912388),
    "part": (200, 3333594478627477066),
    "partsupp": (800, -2733834771150723463),
    "orders": (1500, 8646736910381366961),
    "lineitem": (6005, -6124875139797932440),
}


@pytest.mark.parametrize("table", sorted(VALUE_PINS))
def test_generated_values_pinned(spark, table):
    df = tpch_gen.call_tpch(spark, table, 0.001)
    got = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns))).collect()[0]
    assert tuple(got) == VALUE_PINS[table]


def test_reference_sf1_shape_assertions(spark):
    """The reference's own SF1 shape test, ported verbatim: every table's
    (rows, cols) at SF=1.0 must match the tpchgen assertions at
    /root/reference/src/lib.rs:335-344 — including lineitem's 6,001,215,
    which requires the spec LCG line-count stream.  Runs the distributed
    generators for real (~20 s), the same scale the reference's CI runs."""
    want = {
        "nation": (25, 4), "customer": (150_000, 8),
        "orders": (1_500_000, 9), "lineitem": (6_001_215, 16),
        "part": (200_000, 9), "partsupp": (800_000, 5),
        "supplier": (10_000, 7), "region": (5, 3),
    }
    for table, (rows, cols) in want.items():
        df = tpch_gen.call_tpch(spark, table, 1.0)
        assert len(df.columns) == cols, table
        assert df.count() == rows, table


def test_export_redone_only_when_projection_text_changes(spark, tmp_path,
                                                         monkeypatch):
    """export_tpch_tables keys each table's export on its projection text
    and sf: an unchanged text rewrites nothing, a changed one re-exports
    that table and only it, and a marker without a fingerprint (an export
    written before fingerprints) is redone."""
    from datafusion_tpch_spark.sources.parquet_io import export_tpch_tables

    def files():
        return {t: {p.name: p.stat().st_mtime_ns for p in (tmp_path / t).iterdir()}
                for t in TPCH_TABLES}

    export_tpch_tables(spark, 0.001, str(tmp_path))
    before = files()
    export_tpch_tables(spark, 0.001, str(tmp_path))
    assert files() == before

    region = tpch_gen._PROJECTIONS["region"]
    monkeypatch.setitem(
        tpch_gen._PROJECTIONS, "region",
        lambda sf, width: region(sf, width)
        + [["r_regionkey", "upper(r_name) AS r_name", "r_comment"]],
    )
    export_tpch_tables(spark, 0.001, str(tmp_path))
    after = files()
    assert after["region"] != before["region"]
    assert {t: f for t, f in after.items() if t != "region"} == {
        t: f for t, f in before.items() if t != "region"
    }
    got = spark.read.parquet(str(tmp_path / "region")).collect()
    assert sorted(r.r_name for r in got) == sorted(n.upper() for n in tpch_gen.REGIONS)
    # no checksum of the empty marker is left to contradict the fingerprint
    assert not (tmp_path / "region" / "._SUCCESS.crc").exists()

    (tmp_path / "nation" / "_SUCCESS").write_text("")
    export_tpch_tables(spark, 0.001, str(tmp_path))
    assert files()["nation"] != before["nation"]
