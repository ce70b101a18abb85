"""Row-sized fan-out for the Python-kernel fronts.

Every mapInPandas gate reads a small, one-row-group table (``documents``)
and must spread it before its kernel runs: one scan split would run the
kernel on one task, and the kernel's output must come back ordered by
``doc_id`` without a trailing sort.  ``kernel_front`` is the one place
that does both, with a width taken from the input's row count.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..session import memo

# Rows one Python task is given.  Each mapInPandas task pays ~0.3 s of CPU
# before its kernel runs (~0.2 s in the worker's per-task set-up, which
# re-reads pyspark.zip, and ~0.1 s JVM-side; measured on a 4-core
# Python 3.11 / Spark 4.1.2 host).  Against it, the kernels cost between
# ~24 us/row (multimodal_pixel_stats: 1024 rows = 25 ms, so more tasks
# only add set-up) and ~0.85 ms/row (multimodal_exif_full_scrub: 1024 rows
# = 0.87 s, where a second task starts to pay for itself).  1024 gives
# 500 documents (sf0.01) one task and 5000 (sf0.1) five, clamped to the
# session's parallelism.  The same density also narrows the fronts whose
# work after the exchange is JVM-only (minhash/LSH signatures, winnow,
# the BPE and DSIR explodes), which do not pay the Python set-up.  The
# rule has been measured on hosts of at most 4 cores; wider hosts get at
# most ceil(rows / 1024) tasks per front, not one per core.
ROWS_PER_PY_TASK = 1024


def tasks_for(rows: int, rows_per_task: int = ROWS_PER_PY_TASK) -> int:
    """ceil(rows / rows_per_task), at least 1."""
    return max(-(-rows // rows_per_task), 1)


def kernel_width(spark: SparkSession, rows: int | None) -> int:
    """clamp(ceil(rows / ROWS_PER_PY_TASK), 1, defaultParallelism); an
    unknown row count gets the full width."""
    cap = spark.sparkContext.defaultParallelism
    return cap if rows is None else min(tasks_for(rows), cap)


def _footer_rows(uri: str) -> int | None:
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None  # remote stores: no cheap local footer read
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(unquote(parsed.path)).num_rows
    except (OSError, ValueError):  # gone, or not parquet: size unknown
        return None


def input_rows(df: DataFrame, stop_at: int | None = None) -> int | None:
    """Rows of the parquet files ``df`` scans, from their footers only (no
    Spark job).  An upper bound when ``df`` filters; None when ``df`` reads
    no files or a footer cannot be read.  Once the total reaches
    ``stop_at`` the remaining footers are not read and the partial total
    is returned.  The files a front reads do not change within a session
    (the catalog memoizes their DataFrames on the same assumption), so
    each footer is read once per session."""
    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for f in files:
        rows = memo(df.sparkSession, ("footer_rows", f),
                    lambda f=f: _footer_rows(f))
        if rows is None:
            return None
        total += rows
        if stop_at is not None and total >= stop_at:
            break
    return total


def kernel_front(df: DataFrame, *cols: str) -> DataFrame:
    """``df``'s ``doc_id`` and ``cols``, range-partitioned by ``doc_id`` and
    sorted within partitions: the front of every Python-kernel gate.

    Width: ``clamp(ceil(rows / ROWS_PER_PY_TASK), 1, defaultParallelism)``,
    with ``rows`` read from the parquet footers of ``df.inputFiles()``
    (memoized per session, and no more footers than the cap needs), so
    building a front starts no Spark job.  The density is weighed against
    the ~0.3 s of CPU each Python task costs before its kernel runs (see
    ``ROWS_PER_PY_TASK``): 500 documents run as one task, 5000 as five
    (clamped), and any input of cap x 1024 rows or more at full width.

    At any width the in-partition sort makes the kernel output GLOBALLY
    ordered by ``doc_id`` (mapInPandas keeps per-partition order and
    collect concatenates partitions in range order), so per-row gates need
    no trailing orderBy, which would re-run the whole kernel chain in the
    range-sampling job.

    CONTRACT CAVEAT: that global order is a property of Spark's current
    execution (partition enumeration order plus mapInPandas order
    preservation), not a DataFrame API guarantee.  Gates riding this front
    declare their output UNORDERED (the oracle comparison is
    order-insensitive by contract), and an order-sensitive consumer must
    add its own orderBy.
    """
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    width = kernel_width(spark, input_rows(df, cap * ROWS_PER_PY_TASK))
    return (
        df.select("doc_id", *cols)
        .repartitionByRange(width, "doc_id")
        .sortWithinPartitions("doc_id")
    )
