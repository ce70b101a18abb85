"""The lifecycle of every persisted artifact: validity check, publish,
partition-pruned load, and the storage-agnostic small-file IO under them.

An index build job writes an artifact to storage once; later serving
sessions read it back without rebuilding.  Every artifact kind (IVF, PQ,
IVF-PQ, LSH, the streamed ingest indexes, the drift generations, the BPE
tokenizer, the curation funnel) follows one rule: an artifact is valid
exactly when its ``manifest.json`` matches the kind's format version, the
corpus fingerprint and the build params, and that manifest is written
last.  ``publish`` is the one writer of that rule:

1. delete the stale manifest, so a kill while the tables are overwritten
   cannot leave yesterday's valid-looking manifest on top of them;
2. write the tables, each optionally ``partitionBy`` one column;
3. write the manifest last, so a killed build leaves none.

``is_current`` is the one check, ``load`` the one reader (a static IN on a
partition column lists only the probed directories), and
``update_manifest`` records markers (``ingested``, ``compact_src_files``,
``stages_done``) only after the data they vouch for has landed.  What the
tables hold (centroid, codebook and merge rows, fingerprints) stays with
each kind.

Manifest and marker IO goes through the Hadoop FileSystem API
(``org.apache.hadoop.fs``) whenever the path carries a URI scheme, so
any store Spark can scan (``s3a://``, ``hdfs://``, ``abfs://``) can hold
the manifests too.  Schemeless paths stay on plain POSIX IO: no JVM
round-trip per manifest read, and no active SparkSession needed.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def path_scheme(path: str) -> str | None:
    """URI scheme of ``path`` (``s3a``, ``hdfs``, ``file``, ...) or None
    for a bare local path."""
    m = _SCHEME_RE.match(path)
    return m.group(0)[:-3] if m else None


def _hadoop_fs(path: str, spark: SparkSession | None):
    """(FileSystem, Path) for a scheme-qualified path via the live JVM."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"{path!r} has a URI scheme; reaching it needs an active "
            "SparkSession (the Hadoop FileSystem connector lives in the JVM)"
        )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm, hpath


def read_text(path: str, spark: SparkSession | None = None) -> str | None:
    """Full contents of a small text artifact, or None if absent/unreadable."""
    if path_scheme(path) is None:
        try:
            with open(path, encoding="utf-8") as fh:
                return fh.read()
        except OSError:
            return None
    fs, jvm, hpath = _hadoop_fs(path, spark)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # commons-io ships on every Spark classpath
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(path: str, data: str, spark: SparkSession | None = None) -> None:
    """Overwrite a small text artifact, creating parent dirs as needed."""
    if path_scheme(path) is None:
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(data)
        return
    fs, _, hpath = _hadoop_fs(path, spark)
    stream = fs.create(hpath, True)  # overwrite=True; mkdirs implied
    try:
        stream.write(bytearray(data.encode("utf-8")))
    finally:
        stream.close()


def delete(path: str, recursive: bool = False,
           spark: SparkSession | None = None) -> None:
    """Best-effort delete of a file (or, with ``recursive``, a tree);
    absent paths are a no-op — callers use this to clear stale manifests
    and half-built index directories before a rebuild."""
    if path_scheme(path) is None:
        if recursive:
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except OSError:
                pass
        return
    fs, _, hpath = _hadoop_fs(path, spark)
    if fs.exists(hpath):
        fs.delete(hpath, recursive)


def exists(path: str, spark: SparkSession | None = None) -> bool:
    if path_scheme(path) is None:
        return os.path.exists(path)
    fs, _, hpath = _hadoop_fs(path, spark)
    return bool(fs.exists(hpath))


def table_path(path: str, name: str) -> str:
    """Location of table (or file) ``name`` inside the artifact at
    ``path``.  Object-store prefixes are URIs, so a scheme'd path is never
    ``os.path.join``-ed."""
    return path.rstrip("/") + "/" + name


def _write_manifest(path: str, manifest: dict,
                    spark: SparkSession | None = None) -> None:
    write_text(table_path(path, "manifest.json"),
               json.dumps(manifest, sort_keys=True) + "\n", spark=spark)


def read_manifest(path: str, spark: SparkSession | None = None) -> dict | None:
    text = read_text(table_path(path, "manifest.json"), spark=spark)
    if text is None:
        return None
    try:
        return json.loads(text)
    except ValueError:
        return None


def update_manifest(path: str, spark: SparkSession | None = None,
                    **markers) -> None:
    """Merge markers into an existing manifest — called only AFTER the
    data a marker vouches for has landed, so a kill before it leaves an
    unmarked manifest and the next session redoes the work."""
    m = read_manifest(path, spark=spark)
    if m is None:
        raise ValueError(f"no manifest to update at {path}")
    m.update(markers)
    _write_manifest(path, m, spark=spark)


def is_current(spark: SparkSession, path: str, fmt: int, fingerprint: str,
               params: dict) -> bool:
    """True iff a complete artifact at ``path`` was published in format
    ``fmt`` for exactly this corpus and these params.  Serve-side knobs
    (nprobe, the hot-cell cap) are not params, so they never rebuild."""
    m = read_manifest(path, spark=spark)
    expect = {"format": fmt, "fingerprint": fingerprint, **params}
    return m is not None and all(m.get(k) == v for k, v in expect.items())


def publish(spark: SparkSession, path: str, fmt: int, fingerprint: str,
            params: dict, tables: dict[str, DataFrame] | None = None,
            partition_by: dict[str, str] | None = None) -> None:
    """Write ``tables`` (name -> frame) under ``path`` and the manifest
    that makes them current: stale manifest deleted FIRST, tables next
    (a table named in ``partition_by`` is written ``partitionBy`` that
    column), manifest LAST."""
    delete(table_path(path, "manifest.json"), spark=spark)
    for name, df in (tables or {}).items():
        writer = df.write.mode("overwrite")
        if name in (partition_by or {}):
            writer = writer.partitionBy(partition_by[name])
        writer.parquet(table_path(path, name))
    _write_manifest(
        path, {"format": fmt, "fingerprint": fingerprint, **params},
        spark=spark,
    )


def load(spark: SparkSession, path: str, table: str,
         column: str | None = None, values=None) -> DataFrame:
    """Table ``table`` of the artifact at ``path``; with ``column`` given,
    a static IN-filter on that partition column, so the scan lists only
    the directories of ``values``."""
    df = spark.read.parquet(table_path(path, table))
    if column is None:
        return df
    return df.filter(F.col(column).isin(list(values)))
