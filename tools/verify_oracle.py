"""Local replica of the driver's correctness gate: run every registered
query through Spark AND its oracle SQL through DuckDB on the same fixture
dir; compare row count, column names, and order-insensitive values.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

from datafusion_tpch_spark import FIXTURE_TABLES  # noqa: E402
from datafusion_tpch_spark.queries import all_queries  # noqa: E402
from datafusion_tpch_spark.session import build_session  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_mismatches(s: pd.DataFrame, o: pd.DataFrame) -> list[str]:
    """Strict dtype agreement — the driver may hash values type-sensitively
    (str(int64) != str(float64)), so the engines must agree on types too."""
    return [
        f"{c}: spark={s[c].dtype} oracle={o[c].dtype}"
        for c in s.columns
        if str(s[c].dtype) != str(o[c].dtype)
    ]


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> "str | None":
    """Driver-style Spark-vs-oracle comparison (schema, dtypes, rows,
    cell values after canonicalization).  Returns None on match, else a
    diagnostic string with the first differing cells.  Shared by the
    hostile-conditions gate (tools/verify_hostile.py) so the two
    verification paths cannot drift."""
    s, o = canon(sdf), canon(odf)
    if list(s.columns) != list(o.columns):
        return f"schema mismatch: spark={list(s.columns)} oracle={list(o.columns)}"
    if dtype_mismatches(s, o):
        return f"dtype mismatch: {dtype_mismatches(s, o)}"
    if len(s) != len(o):
        return f"rowcount mismatch: spark={len(s)} oracle={len(o)}"
    if not s.equals(o):
        diff = (s != o)
        ncell = int(diff.to_numpy().sum())
        badcols = [c for c in s.columns if diff[c].any()]
        status = f"value mismatch: {ncell} cells in {badcols}"
        for c in badcols[:2]:
            idx = diff[c].idxmax()
            status += f" | {c}[{idx}]: spark={s[c][idx]!r} oracle={o[c][idx]!r}"
        return status
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # progress bars would be drawn over the OK/FAIL result lines
    spark = build_session(
        "verify-oracle", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    for name, spec in sorted(all_queries().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.build(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        status = compare(sdf, odf)
        if status:
            print(f"FAIL {name}: {status}")
            failures.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
