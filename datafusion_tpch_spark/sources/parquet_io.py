"""Parquet source/sink helpers — the reference's ``COPY ... TO ... STORED AS
PARQUET`` surface (exercised at /root/reference/examples/parquet.rs:17-31;
persistence deliberately delegated to the engine per README.md:67-69).

In Spark the write fans out across executors (one file per partition)
instead of the reference's single in-process stream — the behavior you want
at 100 TB.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .. import TPCH_TABLES
from .tpch_gen import GENERATORS, projection_fingerprint


def copy_to_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """``COPY <table-or-query> TO <path> STORED AS PARQUET`` equivalent.
    Returns the row count (the COPY statement's result, examples/parquet.rs:22)."""
    df.write.mode(mode).parquet(path)
    return df.sparkSession.read.parquet(path).count()


def _marker(path: str) -> str | None:
    try:
        with open(os.path.join(path, "_SUCCESS")) as f:
            return f.read()
    except FileNotFoundError:
        return None


def export_tpch_tables(spark: SparkSession, sf: float, out_dir: str) -> None:
    """Generate the 8 TPC-H tables at ``sf`` into ``out_dir/<table>`` once
    per generator version.

    A table counts as exported only when its ``_SUCCESS`` marker holds
    ``projection_fingerprint(table, sf)``; an export made by other
    generator code, or at another ``sf``, is redone.  Each write goes to a
    pid-suffixed staging directory that is renamed into place, so a killed
    writer leaves no half-written table behind and concurrent processes
    never read one; a table directory without a current marker (a partial
    or stale export) is replaced, not read."""
    for name in TPCH_TABLES:
        path = os.path.join(out_dir, name)
        fp = projection_fingerprint(name, sf)
        if _marker(path) == fp:
            continue
        stage = f"{path}.stage.{os.getpid()}"
        copy_to_parquet(GENERATORS[name](spark, sf), stage)
        with open(os.path.join(stage, "_SUCCESS"), "w") as f:
            f.write(fp)
        # the writer's checksum of the empty marker no longer matches it
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(stage, "._SUCCESS.crc"))
        if _marker(path) != fp:
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(stage, path)
        except OSError:  # lost the race: another process renamed first
            shutil.rmtree(stage, ignore_errors=True)


def copy_table_to_parquet(spark: SparkSession, table: str, path: str) -> int:
    """``COPY nation TO './tpch_nation.parquet'`` (examples/parquet.rs:17-22)."""
    return copy_to_parquet(spark.table(table), path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Round-trip source for COPY output (SURVEY §2.1 S9)."""
    return spark.read.parquet(path)


def show_tables(spark: SparkSession) -> DataFrame:
    """`SHOW TABLES` / information_schema surface (examples/parquet.rs:8-14)."""
    return spark.sql("SHOW TABLES")


def copy_to_csv(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """CSV sink (`COPY ... STORED AS CSV` — engine-provided format in the
    reference's DataFusion, same delegation rationale as parquet)."""
    df.write.mode(mode).option("header", True).csv(path)
    return df.sparkSession.read.option("header", True).csv(path).count()


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read.option("header", True)
    return (reader.schema(schema) if schema else reader.option("inferSchema", True)).csv(path)


def copy_to_orc(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """ORC sink (columnar alternative Spark ships natively; same COPY
    delegation rationale as parquet)."""
    df.write.mode(mode).orc(path)
    return df.sparkSession.read.orc(path).count()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def copy_to_json(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """JSON-lines sink (engine-provided format, as above)."""
    df.write.mode(mode).json(path)
    return df.sparkSession.read.json(path).count()


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    return (reader.schema(schema) if schema else reader).json(path)
