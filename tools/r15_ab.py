"""Same-window A/B pairs for the round-15 evidence trail.

Two modes, both timing bench-identically (build + collect, best of N,
warm fixture cache), with the A and B legs interleaved per query inside
ONE process so hypervisor throttle drift (the ~3x hour-scale artifact
measured in r10) cannot masquerade as a result:

  --conf KEY=VALUE   A = session as shipped, B = session with the conf
                     override (the session is torn down and rebuilt
                     between legs; used for the verdict-item-9 phantom
                     re-bench: parallelismFirst on/off).
  --no-range-front   A = as shipped, B = `kernel_front` monkeypatched
                     to identity in every module that binds it
                     (extensions, curation, stream), so B drops the front
                     of every gate fed by it: the minhash/LSH signature
                     chains, winnow, the BPE and DSIR explodes,
                     dedup_persisted_compact and every codec/audio/video
                     gate (verdict item 8 asked this of the minhash/LSH
                     self-join consumers only).
                     Session-cache tables are dropped between legs so B
                     rebuilds its own frames.

Measurement-only: not on the bench path, never imported by the package.
"""

from __future__ import annotations

import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ[_v] = "1"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_tpch_spark.queries import all_queries
from datafusion_tpch_spark.session import build_session


def _warm(spark, sf_dir):
    from datafusion_tpch_spark.catalog import load_table

    spark.range(1).count()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass


def _drop_session_tables(spark):
    """Unpersist every persisted shared intermediate so the next leg
    rebuilds its own (they are memoized per (session, fixture))."""
    from datafusion_tpch_spark.session import forget

    forget(spark, "table")  # unpersists what it drops


def _time_one(spark, spec, sf_dir, runs):
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df = spec.build(spark, sf_dir)
        df.collect()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    conf_override: dict[str, str] = {}
    no_range_front = False
    while args and args[0].startswith("--"):
        if args[0] == "--runs":
            runs = int(args[1])
            args = args[2:]
        elif args[0] == "--conf":
            k, v = args[1].split("=", 1)
            conf_override[k] = v
            args = args[2:]
        elif args[0] == "--no-range-front":
            no_range_front = True
            args = args[1:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from datafusion_tpch_spark.queries import extensions as ext

    specs = all_queries()
    base_conf = {"spark.ui.showConsoleProgress": "false"}

    def leg_session(overrides):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        spark = build_session(
            "r15-ab", extra_conf={**base_conf, **overrides})
        _warm(spark, sf_dir)
        return spark

    from datafusion_tpch_spark.queries import curation, stream

    # Each module binds kernel_front at import, so patch every binding.
    front_users = (ext, curation, stream)
    orig_front = ext.kernel_front

    def set_front(front) -> None:
        for mod in front_users:
            mod.kernel_front = front

    results: dict[str, tuple[float, float]] = {}
    # ABBA leg order: one shared JVM means later legs run JIT-warm, so a
    # plain A-then-B order systematically flatters B.  Bracketing (A
    # coldest, A warmest; B in between) and taking the min per label
    # keeps the comparison inside one throttle window AND warmth-fair.
    for name in names:
        spec = specs[name]
        a = b = float("inf")
        for label in ("A", "B", "B", "A"):
            if conf_override:
                spark = leg_session(conf_override if label == "B" else {})
            else:
                spark = leg_session({})
            if no_range_front:
                _drop_session_tables(spark)
                set_front(
                    (lambda df, *cols: df) if label == "B" else orig_front
                )
            try:
                t = _time_one(spark, spec, sf_dir, runs)
            finally:
                set_front(orig_front)
            if label == "A":
                a = min(a, t)
            else:
                b = min(b, t)
        results[name] = (a, b)
        print(f"{name}: A={a:.3f}s B={b:.3f}s (best of {runs} x2 legs)",
              file=sys.stderr)
    for name, (a, b) in results.items():
        print(f"RESULT {name} A={a:.4f} B={b:.4f}")


if __name__ == "__main__":
    main()
