"""Measure the 22 spec-typed TPC-H gates (q*_spec) at sf1 DECIMAL/DATE.

Usage: python tools/spec_scale_proof.py [sf] [--verify]

Generates the 8 spec tables at the given scale factor with the repo's
own generators into /tmp (DECIMAL money, DATE dates — the same type
family the sf0.01 driver warehouse carries) and runs every ``q*_spec``
gate text UNCHANGED over them through the gates' own table binding,
best-of-2 after warm-up.  With ``--verify`` each query is also
cross-checked cell-for-cell against DuckDB running the same text bound
to the same generated parquet.

The point: the spec gates' correctness and plan shape must not be an
sf0.01-warehouse accident.  Feeds the "Spec-typed gates at sf1" section
of SCALE_PROOF.md.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_tpch_spark.queries.tpch_spec import TEXTS, bind_duckdb, bind_spark
from datafusion_tpch_spark.session import build_session
from datafusion_tpch_spark.sources.parquet_io import export_tpch_tables


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else 1.0
    verify = "--verify" in sys.argv

    spark = build_session(
        "spec-scale", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    table_dir = os.path.join(
        "/tmp/spark_graft_scale", f"tpch_spec_sf{sf:g}".replace(".", "_")
    )
    t0 = time.perf_counter()
    export_tpch_tables(spark, sf, table_dir)
    print(f"# tables ready in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    con = duckdb.connect() if verify else None
    total = 0.0
    fails = 0
    for q in sorted(TEXTS, key=lambda q: int(q[1:])):
        name, text = f"{q}_spec", TEXTS[q]
        sdf = bind_spark(spark, text, table_dir).toPandas()  # warm-up + verify payload
        best = 1e9
        for _ in range(2):
            t0 = time.perf_counter()
            bind_spark(spark, text, table_dir).collect()
            best = min(best, time.perf_counter() - t0)
        total += best
        status = ""
        if verify:
            odf = con.execute(bind_duckdb(text, table_dir)).fetchdf()
            s = sdf.reindex(sorted(sdf.columns), axis=1)
            o = odf.reindex(sorted(odf.columns), axis=1)
            ok = list(s.columns) == list(o.columns) and len(s) == len(o)
            fp_only = ok
            if ok:
                for c in s.columns:
                    sv, ov = s[c].tolist(), o[c].tolist()
                    sv = [float(x) if hasattr(x, "as_tuple") else x for x in sv]
                    ov = [float(x) if hasattr(x, "as_tuple") else x for x in ov]
                    if sv == ov:
                        continue
                    ok = False
                    # distinguish a real mismatch from the documented
                    # decimal-vs-double artifact: past ~9e15 quanta a
                    # double can no longer carry the exact decimal sum,
                    # so DuckDB's overflow-to-double path rounds the
                    # last digit while Spark's decimal(38,s) stays exact
                    import math as _math

                    for a, b in zip(sv, ov):
                        if isinstance(a, float) and isinstance(b, float):
                            if _math.isnan(a) or _math.isnan(b):
                                # NaN == NaN counts as agreement; NaN vs
                                # value is a REAL divergence (plain
                                # comparisons against NaN are all False,
                                # which would otherwise slip through as
                                # the benign fp artifact)
                                if _math.isnan(a) != _math.isnan(b):
                                    fp_only = False
                            elif a != b and abs(a - b) > 1e-12 * max(abs(a), abs(b), 1.0):
                                fp_only = False
                        elif a != b:
                            fp_only = False
            if ok:
                status = " OK"
            elif fp_only:
                status = " OK~fp (exact-decimal vs double last-digit)"
            else:
                status = " MISMATCH"
                fails += 1
        print(f"{name}: {best:.2f}s ({len(sdf)} rows){status}")
    print(f"total: {total:.1f}s over {len(TEXTS)} spec gates at sf{sf:g}"
          + (f"; {fails} verify failures" if verify else ""))


if __name__ == "__main__":
    main()
