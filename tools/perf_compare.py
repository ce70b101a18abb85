"""Write PERF.md: per-query wall time, this engine (Spark local[N]) vs the
DuckDB oracle running the equivalent SQL on the same parquet.

Usage: python tools/perf_compare.py [sf_dir] [query ...]

A full pass at 233 gates takes ~2h at sf0.1 and round 11's attempt was
killed mid-run losing everything, so every completed row is CHECKPOINTED
to PERF_ROWS.json as it lands: re-running resumes where the kill
happened (rows already recorded for the same sf_dir are skipped), and
naming queries on the command line re-measures exactly those rows
(overwriting their sidecar entries — how new gates get appended without
re-timing the other 233).  PERF.md is regenerated from the full sidecar
at the end of every run.  For a from-scratch regen, delete
PERF_ROWS.json first.

Both sides get a warm-up and best-of-2.  Streaming gates are timed COLD:
their always-on reuse state (completed memory sinks, maintained stream
state) is dropped before every timed Spark run, so the number is a full
stream execution — the same work DuckDB's batch-equivalent re-does each
run.  The steady-state sink-read cost (what an always-on deployment's
consumers actually pay) is reported in its own column, never folded into
the ratio.  This is a single-node comparison at fixture scale — see the
analysis block in PERF.md for why the constants differ and where the
crossover is.
"""

from __future__ import annotations

import json
import os

# same single-thread BLAS pinning as bench.py, for the same two reasons:
# comparable timings and no 32-worker x N-thread BLAS oversubscription
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ[_v] = "1"

import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_tpch_spark import FIXTURE_TABLES
from datafusion_tpch_spark.queries import all_queries
from datafusion_tpch_spark.session import build_session, forget

ANALYSIS = """
## Reading this table

Single-node, fixture-scale (sf0.1 ≈ 600k-row lineitem) measurements.
DuckDB embeds in-process with microsecond dispatch; Spark pays a fixed
~0.1–1 s per query for driver→scheduler→task round-trips, codegen, and
32-way task startup — at this data size that constant dominates, so
DuckDB wins most small-query rows, while the dedup/graph/selection gates
where Spark's formulation is stronger go the other way.  The design
target is the opposite regime: at 100 TB the constant vanishes into scan
time, and the properties measured in PLANS.md (broadcast joins,
pushdown, bounded shuffles, partitioned/bucketed layouts) decide
throughput — per-core work is what matters, and both engines here
execute the same relational plans over the same columnar format.

Streaming rows ("spark s" = COLD) time a full stream execution —
checkpoint + trigger + state-store overhead included — with the
always-on sink-reuse caches cleared before every timed run, so the
spark/duckdb ratio compares equivalent work.  The "sink s" column is the
steady-state read of the completed sink (what consumers of an always-on
deployment pay per query); it is informational and excluded from every
total and ratio.
"""


ROWS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PERF_ROWS.json",
)


def _load_sidecar(sf_dir: str) -> dict:
    """Completed rows from a prior (possibly killed) run at this sf_dir."""
    try:
        with open(ROWS_PATH) as fh:
            data = json.load(fh)
        if data.get("sf_dir") == sf_dir:
            return data.get("rows", {})
    except (OSError, ValueError):
        pass
    return {}


def _save_sidecar(sf_dir: str, done: dict) -> None:
    with open(ROWS_PATH, "w") as fh:
        json.dump({"sf_dir": sf_dir, "rows": done}, fh,
                  separators=(",", ":"), sort_keys=True)
        fh.write("\n")


def main() -> None:
    sf_dir = os.path.normpath(
        os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
    )
    only = set(sys.argv[2:])
    if only and not _load_sidecar(sf_dir):
        # named-query mode REFINES an existing table; with no sidecar (or
        # one from a different sf_dir — trailing slash, relative path,
        # different fixture) the regenerated PERF.md would hold ONLY the
        # named rows, silently replacing the full table
        raise SystemExit(
            f"named-query mode needs an existing PERF_ROWS.json for "
            f"{sf_dir!r} (it refines a complete table; a subset run must "
            f"not replace it) — run a full pass first, or delete the "
            f"sidecar and re-measure everything"
        )
    spark = build_session("perf-compare")
    spark.range(1).count()

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    specs = all_queries()
    if only:
        missing = only - set(specs)
        assert not missing, f"unknown queries: {sorted(missing)}"
    done = _load_sidecar(sf_dir)
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        if not only and name in done:
            continue  # resume: already measured at this sf_dir
        s_best = d_best = float("inf")
        sink_s = None
        # one untimed warm-up per side (codegen, python-worker fork, OS
        # page cache) — the first-ever execution of a query in a process
        # can cost 5x its steady state and is not a plan property.
        # Streaming gates still run their full stream inside every TIMED
        # window: their always-on reuse state (completed memory sinks,
        # maintained stream state) is forgotten before each timed run.
        forget(spark, "stream")
        n = len(spec.build(spark, sf_dir).collect())
        for _ in range(2):
            # cold for streaming gates: no sink/state reuse inside the
            # timed window — batch gates don't consult these entries
            reused = bool(forget(spark, "stream"))
            t0 = time.perf_counter()
            n = len(spec.build(spark, sf_dir).collect())
            s_best = min(s_best, time.perf_counter() - t0)
        if reused:
            # steady-state: read the completed sink the last run left
            t0 = time.perf_counter()
            spec.build(spark, sf_dir).collect()
            sink_s = time.perf_counter() - t0
        if spec.oracle:
            con.execute(spec.oracle).fetchall()  # symmetric warm-up
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(spec.oracle).fetchall()
                d_best = min(d_best, time.perf_counter() - t0)
        else:
            d_best = None  # rows-only gate: no SQL-expressible oracle
        done[name] = {
            "n": n,
            "s": round(s_best, 4),
            "d": round(d_best, 4) if d_best is not None else None,
            "sink": round(sink_s, 4) if sink_s is not None else None,
        }
        _save_sidecar(sf_dir, done)  # checkpoint after EVERY query
        extra = f" sink {sink_s:.2f}s" if sink_s is not None else ""
        d_txt = f"{d_best:.2f}s" if d_best is not None else "-"
        print(
            f"{name}: spark {s_best:.2f}s duckdb {d_txt}{extra}",
            file=sys.stderr,
        )

    # regenerate the table from the FULL sidecar (this run + prior
    # checkpointed rows), restricted to names still in the registry
    rows = [
        (name, r["n"], r["s"], r["d"],
         (r["s"] / r["d"]) if r["d"] else None, r["sink"])
        for name, r in sorted(done.items())
        if name in specs
    ]
    lines = [
        "# PERF — this engine vs the DuckDB oracle, identical queries, identical parquet",
        "",
        f"Source: `tools/perf_compare.py` on `{sf_dir}`, one untimed warm-up "
        "then best of 2 runs per side; "
        "streaming gates timed cold (reuse caches cleared per run).",
        ANALYSIS,
        "| query | rows | spark s | duckdb s | spark/duckdb | sink s |",
        "|---|---|---|---|---|---|",
    ]
    for name, n, s, d, r, sink_s in rows:
        sink = f"{sink_s:.2f}" if sink_s is not None else ""
        d_txt = f"{d:.2f}" if d is not None else "-"
        r_txt = f"{r:.1f}x" if r is not None else "-"
        lines.append(f"| {name} | {n} | {s:.2f} | {d_txt} | {r_txt} | {sink} |")
    # totals over the oracle-comparable rows only (rows-only gates have
    # nothing to compare against)
    comp = [r for r in rows if r[3] is not None]
    tot_s = sum(r[2] for r in comp)
    tot_d = sum(r[3] for r in comp)
    lines.append(
        f"| **total ({len(comp)} oracle-comparable of {len(rows)})** | "
        f"| **{tot_s:.1f}** | **{tot_d:.1f}** | **{tot_s / tot_d:.1f}x** | |"
    )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PERF.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
