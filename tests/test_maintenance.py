"""Compaction maintenance operators."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.operators.maintenance import (
    compact,
    data_file_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="maint-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def fragmented(spark, tmpdirs):
    """A deliberately over-fragmented copy of orders (64 tiny files)."""
    src = os.path.join(tmpdirs, "frag")
    load_table(spark, SF_DIR, "orders").repartition(64).write.parquet(src)
    assert data_file_count(src) == 64
    return src


def test_compact_reduces_file_count_keeps_rows(spark, tmpdirs, fragmented):
    out = os.path.join(tmpdirs, "compacted")
    n = compact(spark, fragmented, out, target_records_per_file=10_000)
    assert n == data_file_count(out)
    assert n <= 2  # sf0.001 orders = 1500 rows -> one 10k-record file
    before = spark.read.parquet(fragmented)
    after = spark.read.parquet(out)
    assert after.count() == before.count()
    assert sorted(after.columns) == sorted(before.columns)
    # value-level equality via order-insensitive key sum
    s = lambda df: df.agg(F.sum("o_orderkey")).collect()[0][0]  # noqa: E731
    assert s(after) == s(before)


def test_compact_keeps_partition_column(spark, tmpdirs):
    """With a partition column the rewrite keeps the ``partitionBy``
    layout (probes of the compacted table stay pruned) and leaves ~one
    file per partition value, whatever the input fragmentation."""
    src = os.path.join(tmpdirs, "parted")
    (
        load_table(spark, SF_DIR, "orders")
        .withColumn("band", (F.col("o_orderkey") % 4).cast("int"))
        .repartition(16).write.partitionBy("band").parquet(src)
    )
    assert data_file_count(src) > 4
    out = os.path.join(tmpdirs, "parted_compact")
    n = compact(spark, src, out, target_records_per_file=10_000,
                partition_col="band")
    assert n == data_file_count(out) == 4
    assert sorted(d for d in os.listdir(out) if d.startswith("band=")) == [
        f"band={b}" for b in range(4)]
    after = spark.read.parquet(out)
    assert after.count() == spark.read.parquet(src).count()
    plan = (after.filter(F.col("band").isin([1]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [isnotnull(band" in plan or \
        "PartitionFilters: [band#" in plan, plan


def test_sized_partitions_derives_from_volume():
    from datafusion_tpch_spark.operators.maintenance import sized_partitions

    assert sized_partitions(0, 1_000_000) == 1
    assert sized_partitions(999_999, 1_000_000) == 1
    assert sized_partitions(1_000_001, 1_000_000) == 2
    # the 100x table gets 100x the files under the same target
    assert sized_partitions(5_000_000, 1_000_000) == 5
    assert sized_partitions(500_000_000, 1_000_000) == 500
    # clamped against a runaway row count
    assert sized_partitions(10**13, 1_000_000, max_parts=4096) == 4096


def test_data_file_count_scheme_qualified(spark, tmp_path):
    """A file: URI exercises the Hadoop listFiles path — the same code an
    s3a:// root would hit; os.walk would silently return 0 here and
    permanently disable incremental re-compaction."""
    local = str(tmp_path / "t")
    spark.range(100).repartition(3).write.parquet(local)
    n_posix = data_file_count(local)
    assert n_posix == 3
    assert data_file_count(f"file://{local}", spark=spark) == n_posix
    assert data_file_count(f"file://{local}/absent", spark=spark) == 0

