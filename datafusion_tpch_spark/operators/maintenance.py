"""Table-maintenance operators: compaction (bin-packing small files).

Streaming ingest and fine-grained writes leave thousands of small files
per partition; scans then pay per-file open + footer-read + scheduling
cost, and the driver pays listing.  ``compact`` rewrites the data into
target-size files: ``maxRecordsPerFile`` caps file size on the way out;
``coalesce`` (no shuffle) merges when the input is merely fragmented,
``repartition`` (one shuffle) when it is also skewed.  It is a pure
DataFrame write — no table format required; with Delta/Iceberg the same
plan runs under their OPTIMIZE entry point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def data_file_count(path: str, spark: SparkSession | None = None) -> int:
    """Number of parquet data files under ``path`` (driver-side listing,
    same cost the scan's file index pays).

    Scheme-qualified roots (``s3a://``, ``hdfs://``, ...) are listed via
    the Hadoop FileSystem recursive ``listFiles`` API — ``os.walk`` would
    silently return 0 there, which made the incremental-OPTIMIZE markers
    (``compact_src_files``) record 0 and permanently skip recompaction.
    """
    from datafusion_tpch_spark.operators import artifact_io

    def _is_data(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith(("_", "."))

    if artifact_io.path_scheme(path) is None:
        n = 0
        for root, _dirs, files in os.walk(path):
            n += sum(1 for f in files if _is_data(f))
        return n
    fs, _jvm, hpath = artifact_io._hadoop_fs(path, spark)
    if not fs.exists(hpath):
        return 0
    it = fs.listFiles(hpath, True)  # recursive
    n = 0
    while it.hasNext():
        status = it.next()
        if _is_data(status.getPath().getName()):
            n += 1
    return n


def sized_partitions(n_rows: int, target_records_per_file: int,
                     max_parts: int = 4096) -> int:
    """Partition count derived from data volume: ceil(rows / target),
    clamped — the number every compaction job should pass to
    ``repartition`` instead of a constant, so the same OPTIMIZE plan
    bin-packs a 1x and a 100x table correctly."""
    return max(1, min(max_parts, -(-int(n_rows) // int(target_records_per_file))))


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_records_per_file: int = 1_000_000,
    shuffle: bool = False,
) -> int:
    """Bin-pack the dataset at ``path`` into ~``target_records_per_file``
    files at ``out_path``; returns the output file count.

    ``shuffle=False`` coalesces (narrow — each output task concatenates
    input splits, no data movement between executors beyond locality);
    ``shuffle=True`` round-robin repartitions, paying one shuffle to also
    even out skewed input files.
    """
    df = spark.read.parquet(path)
    total = df.count()
    n_files = sized_partitions(total, target_records_per_file)
    df = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(out_path)
    )
    return data_file_count(out_path)
