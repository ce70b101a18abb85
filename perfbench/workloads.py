"""The benchmark's workloads and the passes that run them.

Each workload is a closed loop: one client runs its gates one after
another, in an order drawn from the run seed, and fetches every result
(``toPandas``) before it sends the next.  Results are checked against
DuckDB after each gate, outside the timed interval.
"""

from __future__ import annotations

import ast
import os
import shutil
import time
from dataclasses import dataclass

from layers import tree_cpu_s

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Workload:
    name: str
    gates: tuple[str, ...]
    # scale of the fixture the gates read, and the tables they read
    fixture_sf: float | None = None
    tables: tuple[str, ...] = ()
    # scale at which the first pass generates and writes TPC-H tables
    gen_sf: float | None = None
    gen_tables: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch_gen_sf0.01",
            ("q1", "q4", "q6", "q12"),
            gen_sf=0.01,
            gen_tables=("lineitem", "orders"),
        ),
        Workload(
            "pipeline_ops",
            ("dedup_minhash_lsh", "multimodal_pixel_stats", "events_hll_stream"),
            fixture_sf=0.01,
            tables=("documents", "events"),
        ),
    )
}


def exact_counts(sf: float) -> dict[str, int]:
    """Expected table cardinalities at ``sf``: ``EXACT_COUNTS[sf]`` of
    tests/test_tpch_gen.py, read without importing the test module."""
    path = os.path.join(REPO, "tests", "test_tpch_gen.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "EXACT_COUNTS" for t in node.targets):
            known = ast.literal_eval(node.value)
            if sf not in known:
                raise KeyError(f"EXACT_COUNTS in {path} has no scale {sf}")
            return known[sf]
    raise KeyError(f"no EXACT_COUNTS in {path}")


class GateResult:
    __slots__ = ("name", "build_s", "collect_s", "cpu_s", "start", "end", "rows", "error")

    def __init__(self, name: str):
        self.name = name
        self.build_s = self.collect_s = self.cpu_s = 0.0
        self.start = self.end = 0.0
        self.rows = 0
        self.error: str | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.collect_s


def run_gate(spark, name: str, build, tracer):
    """Build and fetch one gate; returns (GateResult, pandas result|None)."""
    res = GateResult(name)
    cpu0 = tree_cpu_s(os.getpid())
    res.start = time.time()
    pdf = None
    try:
        with tracer.span("build"):
            t0 = time.perf_counter()
            df = build()
            res.build_s = time.perf_counter() - t0
        with tracer.span("collect"):
            t0 = time.perf_counter()
            pdf = df.toPandas()
            res.collect_s = time.perf_counter() - t0
        res.rows = len(pdf)
    except Exception as exc:  # noqa: BLE001 - a gate error is counted, not fatal
        res.error = f"{type(exc).__name__}: {str(exc)[:300]}"
    res.end = time.time()
    res.cpu_s = tree_cpu_s(os.getpid()) - cpu0
    return res, pdf


class FixtureOracle:
    """DuckDB over the fixture parquet; each gate's oracle SQL runs once
    per run, the first time the gate is checked."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], specs: dict):
        import duckdb

        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{sf_dir}/{t}.parquet')")
        self._specs = specs
        self._want: dict = {}

    def check(self, name: str, got) -> str | None:
        from tools.verify_oracle import compare

        if name not in self._want:
            self._want[name] = self._con.execute(self._specs[name].oracle).fetchdf()
        return compare(got, self._want[name])

    def close(self) -> None:
        self._con.close()


class GenOracle:
    """DuckDB over the parquet files the pass just wrote, with the float
    tolerance of tests/test_tpch_full_schema.py."""

    def __init__(self, out_dir: str, tables: tuple[str, ...], texts: dict[str, str]):
        import duckdb

        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{out_dir}/{t}/*.parquet')")
        self._texts = texts
        self._want: dict = {}

    def check(self, name: str, got) -> str | None:
        from tests.test_tpch_full_schema import _approx_eq, _norm

        if name not in self._want:
            rows = self._con.execute(self._texts[name]).fetchall()
            self._want[name] = [tuple(_norm(v) for v in r) for r in rows]
        want = self._want[name]
        have = [tuple(_norm(v) for v in r) for r in got.itertuples(index=False)]
        if len(have) != len(want):
            return f"rowcount mismatch: spark={len(have)} oracle={len(want)}"
        key = lambda r: tuple((str(type(v)), str(v)) for v in r)  # noqa: E731
        for g, w in zip(sorted(have, key=key), sorted(want, key=key)):
            for i, (gv, wv) in enumerate(zip(g, w)):
                if not _approx_eq(gv, wv):
                    return f"value mismatch col{i}: spark={gv!r} oracle={wv!r}"
        return None

    def close(self) -> None:
        self._con.close()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def generate(spark, sf: float, tables: tuple[str, ...], out_dir: str,
             tracer) -> tuple[list[dict], list[str]]:
    """Generate TPC-H ``tables`` at ``sf``, write each through the parquet
    sink and register the written files as views.  Returns one record per
    table and the row-count mismatches against the expected counts."""
    from datafusion_tpch_spark.sources.parquet_io import copy_to_parquet
    from datafusion_tpch_spark.sources.tpch_gen import GENERATORS

    want = exact_counts(sf)
    shutil.rmtree(out_dir, ignore_errors=True)
    records, errors = [], []
    for t in tables:
        path = os.path.join(out_dir, t)
        with tracer.span("generate/copy", table=t) as sp:
            cpu0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            rows = copy_to_parquet(GENERATORS[t](spark, sf), path)
            spark.read.parquet(path).createOrReplaceTempView(t)
            s = time.perf_counter() - t0
            cpu_s = tree_cpu_s(os.getpid()) - cpu0
            nbytes = _dir_bytes(path)
            sp["attrs"].update(rows=rows, bytes=nbytes)
        records.append({"table": t, "s": s, "cpu_s": cpu_s, "rows": rows, "bytes": nbytes})
        if rows != want[t]:
            errors.append(f"{t}: {rows} rows, expected {want[t]}")
    return records, errors
