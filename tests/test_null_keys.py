"""NULL keys: the Spark form and its oracle SQL must apply the same
NULL contract.  The fixture's events never carry NULL keys or
timestamps, so these gates agree there whatever the contract; a tiny
hand-written events table with NULL ``event_type``, ``ts`` and
``user_id`` rows is where a silent divergence shows."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_tpch_spark.queries import all_queries
from tools.verify_oracle import compare

_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])

# (ts, user_id, event_type); None marks the NULL under test
_ROWS = [
    # users 1 and 2 convert fully, user 3 stops at the click
    (datetime(2024, 1, 1, 9), 1, "view"),
    (datetime(2024, 1, 1, 10), 1, "click"),
    (datetime(2024, 1, 2, 11), 1, "purchase"),
    (datetime(2024, 1, 3, 9), 2, "view"),
    (datetime(2024, 1, 3, 9, 5), 2, "click"),
    (datetime(2024, 1, 4, 12), 2, "purchase"),
    (datetime(2024, 1, 5, 8), 3, "view"),
    (datetime(2024, 1, 6, 8), 3, "click"),
    (datetime(2024, 1, 7, 8), 3, "error"),
    # NULL event_type rows on several weekdays
    (datetime(2024, 1, 1, 13), 1, None),
    (datetime(2024, 1, 2, 13), 2, None),
    (datetime(2024, 1, 6, 13), 3, None),
    # NULL ts: user 4's only view has no timestamp
    (None, 4, "view"),
    (None, 4, "click"),
    (None, 1, "signup"),
    # NULL user_id: an anonymous visitor's funnel
    (datetime(2024, 1, 2, 9), None, "view"),
    (datetime(2024, 1, 2, 9, 1), None, "click"),
    (datetime(2024, 1, 2, 9, 2), None, "purchase"),
]


@pytest.fixture(scope="module")
def null_events(tmp_path_factory):
    out = tmp_path_factory.mktemp("null_keys")
    cols = list(zip(*_ROWS))
    table = pa.table({
        "event_id": list(range(len(_ROWS))), "ts": list(cols[0]),
        "user_id": list(cols[1]), "event_type": list(cols[2]),
        "value": [1.0] * len(_ROWS), "props": ['{"k": 0}'] * len(_ROWS),
    }, schema=_SCHEMA)
    pq.write_table(table, out / "events.parquet")
    return str(out)


@pytest.mark.parametrize("name", ["events_type_dow_chisq", "events_funnel"])
def test_null_keys_match_oracle(spark, null_events, name):
    spec = all_queries()[name]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{null_events}/events.parquet')")
    sdf = spec.build(spark, null_events).toPandas()
    status = compare(sdf, con.execute(spec.oracle).fetchdf())
    assert status is None, f"{name}: {status}"
