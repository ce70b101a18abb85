"""SparkSession construction tuned for the analytics workload.

The reference engine is a single-process DataFusion context
(``/root/reference/src/lib.rs:189-200``); ours is a SparkSession.  The
defaults below are chosen for correctness-critical parity with the DuckDB
oracle (UTC session timezone, ANSI off) and for scale (AQE with skew-join
handling enabled, partition counts sized from the environment so the same
code runs on local[32] and on a 1000-executor cluster).
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "datafusion-tpch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    At 100 TB the same settings hold: AQE coalesces the statically-sized
    shuffle into right-sized partitions at runtime and splits skewed
    partitions of the big fact-table joins; broadcast threshold covers the
    dimension tables (nation/region/supplier are tiny at every SF).
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting; this is the 100TB story for lineitem-sized shuffles.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size post-shuffle partitions by BYTES (advisoryPartitionSizeInBytes,
        # default 64m) instead of stopping the coalesce at defaultParallelism:
        # with parallelismFirst=true (Spark's default) every sub-GB shuffle on
        # a 32-core session keeps ~32 near-empty reducers, which round 14's
        # scaling block measured as the dominant local cost (the 8-core bench
        # beat the 32-core one; events_kmv_setops ratio 0.24).  Bytes-derived
        # sizing is workload-proportional at every scale — a 100 TB shuffle
        # still gets full width because its bytes demand it.  (A/B at sf0.1
        # on the worst inverted gates: kmv_setops 1.08->0.81s,
        # stream_stream_join 0.33->0.21s; mid-size parallel gates flat within
        # the +/-20% window noise — tables in OPTIMIZATION_r15.md.)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        # Arrow for any pandas interchange (mapInPandas operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimension tables are broadcast well past the default 10MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic float formatting / no ANSI interval surprises when
        # results are compared against the DuckDB oracle.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if master or not _active_session():
        builder = builder.master(master or f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _active_session() -> SparkSession | None:
    return SparkSession.getActiveSession()


# Per-session state: session -> {key: value}.  Everything the engine builds
# once and reuses (fixture frames, persisted intermediates, fingerprints,
# trained centroids, temp-view bindings, completed stream sinks and
# maintained stream state) is bound to one session, so it lives here, keyed
# by the session object, never by applicationId: ``spark.newSession()``
# shares the applicationId but not temp views, sinks or the frames built in
# it.  Keys are held weakly, but a cached DataFrame references its session,
# so stopped sessions are swept on each access as well.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, Any]]" = (
    weakref.WeakKeyDictionary()
)


def memo(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``key`` in ``spark``, built on first use.
    ``key[0]`` names the kind of entry, e.g. ``("table", sf_dir, tag)``;
    nothing is stored if ``build`` raises."""
    for s in list(_MEMO):
        if s._sc._jsc is None:  # stopped
            del _MEMO[s]
    entries = _MEMO.setdefault(spark, {})
    if key not in entries:
        entries[key] = build()
    return entries[key]


def forget(spark: SparkSession, kind: str | None = None) -> dict[tuple, Any]:
    """Drop ``spark``'s entries of ``kind`` (all when None); returns them.
    A dropped frame that was persisted is unpersisted too, so what runs
    after ``forget`` starts cold instead of reading Spark's cache."""
    entries = _MEMO.get(spark, {})
    dropped = {k: v for k, v in entries.items() if kind in (None, k[0])}
    for k, v in dropped.items():
        del entries[k]
        if isinstance(v, DataFrame) and v.is_cached:
            v.unpersist()
    return dropped
