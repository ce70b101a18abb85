"""Table-maintenance operators: compaction (bin-packing small files) and
the incremental OPTIMIZE of a persisted artifact's tables.

Streaming ingest and fine-grained writes leave thousands of small files
per partition; scans then pay per-file open + footer-read + scheduling
cost, and the driver pays listing.  ``compact`` rewrites the data into
target-size files: ``maxRecordsPerFile`` caps file size on the way out;
an unpartitioned table is coalesced (no shuffle), a ``partitionBy`` table
is repartitioned on its partition column (one shuffle) so each partition
directory ends up with ~one file.  It is a pure DataFrame write — no
table format required; with Delta/Iceberg the same plan runs under their
OPTIMIZE entry point.  ``optimize`` is the one incremental OPTIMIZE every
persisted-artifact compaction gate calls: it skips a table whose layout
has not changed since its last rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import artifact_io

# compaction bin-packing target of the persisted-artifact compactions;
# partition counts are DERIVED from row counts against it
# (``sized_partitions``), so the same plan packs a 1x and a 100x table
_COMPACT_TARGET_RECORDS = 1_000_000


def data_file_count(path: str, spark: SparkSession | None = None) -> int:
    """Number of parquet data files under ``path`` (driver-side listing,
    same cost the scan's file index pays).

    Scheme-qualified roots (``s3a://``, ``hdfs://``, ...) are listed via
    the Hadoop FileSystem recursive ``listFiles`` API — ``os.walk`` would
    silently return 0 there, which made the incremental-OPTIMIZE markers
    (``compact_src_files``) record 0 and permanently skip recompaction.
    """
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
    partition_col: str | None = None,
) -> int:
    """Bin-pack the dataset at ``path`` into ~``target_records_per_file``
    files at ``out_path``; returns the output file count.

    Without ``partition_col`` the input is coalesced (narrow — each
    output task concatenates input splits, no shuffle).  With it, one
    shuffle on that column routes each partition value to one writer and
    the output keeps the ``partitionBy`` layout, so probes of the
    compacted table stay partition-pruned.
    """
    df = spark.read.parquet(path)
    n_files = sized_partitions(df.count(), target_records_per_file)
    if partition_col is None:
        writer = df.coalesce(n_files).write
    else:
        writer = (df.repartition(n_files, partition_col).write
                  .partitionBy(partition_col))
    (
        writer.mode("overwrite")
        .option("maxRecordsPerFile", target_records_per_file)
        .parquet(out_path)
    )
    return data_file_count(out_path, spark)


def optimize(spark: SparkSession, path: str, table: str, marker: str,
             partition_col: str | None = None) -> None:
    """Incremental OPTIMIZE of table ``table`` of the artifact at ``path``
    into ``<table>_compact``: skipped when the table's file count equals
    the manifest's ``marker`` (real OPTIMIZE skips already-compacted
    tables; new appends change the count and trigger a re-compact).  The
    marker lands AFTER the rewrite, so a killed compaction re-runs instead
    of serving half a rewrite."""
    src = artifact_io.table_path(path, table)
    n_before = data_file_count(src, spark)
    if artifact_io.read_manifest(path, spark=spark).get(marker) == n_before:
        return
    n_after = compact(spark, src, src + "_compact", _COMPACT_TARGET_RECORDS,
                      partition_col)
    # a coalesced empty table still writes one file
    bound = n_before if partition_col else max(n_before, 1)
    assert n_after <= bound, (table, n_after, n_before)
    artifact_io.update_manifest(path, spark=spark, **{marker: n_before})
