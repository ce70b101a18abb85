from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_tpch_spark import FIXTURE_TABLES
from datafusion_tpch_spark.session import build_session, memo

SF_DIR = "/root/testdata/sf0.001"


def memoized(spark, *key):
    """The session memo's entry ``key``; fails the test if none is stored."""
    return memo(spark, key, lambda: pytest.fail(f"nothing memoized at {key}"))

# Driver-generated fixture parquet exists only on the driver machine; on a
# bare CI runner the generator/UDTF/hash tests still run (they synthesize
# their own data) and everything fixture-bound skips with a clear reason.
_FIXTURES_PRESENT = os.path.isdir(SF_DIR)
_FIXTURE_FREE_FILES = {
    "test_tpch_gen.py", "test_sql_udtf.py", "test_dead_code.py",
    "test_structure.py",
}


def pytest_collection_modifyitems(config, items):
    if _FIXTURES_PRESENT:
        return
    skip = pytest.mark.skip(
        reason=f"fixture parquet dir {SF_DIR} not present (CI runner)"
    )
    for item in items:
        if os.path.basename(str(item.fspath)) not in _FIXTURE_FREE_FILES:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = build_session("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
