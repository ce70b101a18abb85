"""Export generated TPC-H tables to parquet — the Spark re-expression of
the reference's examples/parquet.rs.

The reference does `COPY nation TO './tpch_nation.parquet' STORED AS
PARQUET` for a registered table and `COPY (SELECT * FROM
tpch_lineitem(1.0)) TO ...` for an inline query; both return row counts.

Run: python examples/parquet.py [sf] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_tpch_spark.session import build_session
from datafusion_tpch_spark.sources.parquet_io import (
    copy_table_to_parquet,
    copy_to_parquet,
    show_tables,
)
from datafusion_tpch_spark.sources.tpch_gen import register_tpch, register_tpch_udtfs


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.01
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="tpch_pq_")
    spark = build_session("parquet-example")

    register_tpch(spark, sf)
    register_tpch_udtfs(spark)
    show_tables(spark).show()

    # COPY nation TO '<out>/tpch_nation.parquet'
    n = copy_table_to_parquet(spark, "nation", os.path.join(out, "tpch_nation.parquet"))
    print(f"COPY nation -> {n} rows")

    # COPY (SELECT * FROM tpch_lineitem(sf)) TO '<out>/tpch_lineitem.parquet'
    n = copy_to_parquet(
        spark.sql(f"SELECT * FROM tpch_lineitem({sf})"),
        os.path.join(out, "tpch_lineitem.parquet"),
    )
    print(f"COPY (SELECT * FROM tpch_lineitem({sf})) -> {n} rows")
    print(f"files under {out}")


if __name__ == "__main__":
    main()
