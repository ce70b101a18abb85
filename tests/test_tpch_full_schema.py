"""Full-schema Tier-C parity: the 22 canonical TPC-H query texts over
generated spec-complete tables, Spark SQL vs DuckDB on identical parquet.

Pipeline under test: Tier-A generators (sources/tpch_gen.py) → parquet sink
(sources/parquet_io.py, the reference's COPY surface) → both engines read
the same files → every canonical query must agree engine-to-engine.  The
tables are the spec gates' export (queries/tpch_spec.py), bound to each
text by the same binding the gates use.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from datafusion_tpch_spark import TPCH_TABLES
from datafusion_tpch_spark.queries import tpch_full
from datafusion_tpch_spark.queries.tpch_spec import (
    SPEC_DIR,
    SPEC_SF as SF,
    bind_duckdb,
    bind_spark,
)
from datafusion_tpch_spark.sources.parquet_io import export_tpch_tables
from datafusion_tpch_spark.sources.tpch_gen import projection_fingerprint


@pytest.fixture(scope="session")
def full_schema(spark):
    """Generate all 8 tables once, exported through the parquet sink."""
    export_tpch_tables(spark, SF, SPEC_DIR)
    return spark, duckdb.connect()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.date().isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _approx_eq(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # Spark keeps decimal/decimal division at scale 6 where DuckDB
        # promotes to double — tolerate the scale-6 rounding quantum
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-5)
    return a == b


@pytest.mark.parametrize("name", sorted(tpch_full.queries(SF)))
def test_canonical_query_matches_duckdb(full_schema, name):
    spark, con = full_schema
    sql = tpch_full.queries(SF)[name]
    got = [tuple(_norm(v) for v in row)
           for row in bind_spark(spark, sql, SPEC_DIR).collect()]
    want = [tuple(_norm(v) for v in row)
            for row in con.execute(bind_duckdb(sql, SPEC_DIR)).fetchall()]
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    # ORDER BY keys can tie; compare as canonically sorted multisets
    key = lambda r: tuple((str(type(v)), str(v)) for v in r)  # noqa: E731
    got_s, want_s = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got_s, want_s):
        assert len(g) == len(w), f"{name}: column count {len(g)} vs {len(w)}"
        for i, (gv, wv) in enumerate(zip(g, w)):
            assert _approx_eq(gv, wv), f"{name} col{i}: {gv!r} != {wv!r}"


def test_nonempty_coverage(full_schema):
    """The substitution parameters must exercise real data: most canonical
    queries return rows on the generated distribution (empty==empty passes
    are too weak to count as parity evidence)."""
    spark, _ = full_schema
    nonempty = 0
    for name, sql in tpch_full.queries(SF).items():
        if bind_spark(spark, sql, SPEC_DIR).limit(1).count() > 0:
            nonempty += 1
    assert nonempty >= 16, f"only {nonempty}/22 canonical queries hit data"


def test_partial_export_is_regenerated(spark, tmp_path):
    """A table directory without ``_SUCCESS`` (a writer killed mid-COPY)
    is regenerated, not read; complete tables are not written again."""
    for name in TPCH_TABLES:
        if name != "nation":  # stand-ins: marked complete, never rewritten
            os.makedirs(tmp_path / name)
            (tmp_path / name / "_SUCCESS").write_text(
                projection_fingerprint(name, SF)
            )
    partial = tmp_path / "nation"
    spark.range(3).write.parquet(str(partial))
    os.remove(partial / "_SUCCESS")

    export_tpch_tables(spark, SF, str(tmp_path))

    assert (partial / "_SUCCESS").exists()
    df = spark.read.parquet(str(partial))
    assert df.count() == 25 and "n_name" in df.columns
    for name in TPCH_TABLES:
        if name != "nation":
            assert os.listdir(tmp_path / name) == ["_SUCCESS"], name
    assert sorted(os.listdir(tmp_path)) == sorted(TPCH_TABLES)  # no stage left
