"""Persisted ANN index artifacts: build-to-parquet, validate, reload.

The in-session IVF family (``queries/extensions.py``) memoizes its trained
centroids and cell-assigned corpus per SparkSession — one session's memory.
A production vector pipeline separates those lifetimes: an INDEX BUILD JOB
trains once and writes the artifacts to storage, and any number of later
SERVE sessions read them back without retraining.  This module is that
separation:

- ``centroids/`` — the k trained centroid vectors (one small parquet file;
  every serve session collects it — k x d doubles, corpus-size-independent
  driver traffic).
- ``cells/`` — the cell-assigned corpus, written ``partitionBy("cell")`` so
  the cell id is a PARTITION COLUMN: a serve-time probe of nprobe cells is
  a statically partition-pruned scan that never touches the other k-nprobe
  directories.  At 100 TB this is the layout every IVF store uses — the
  inverted lists ARE the partition directories.
- ``manifest.json`` — format, index parameters + a corpus fingerprint
  (row count, id-sum, value-sensitive quantized sums), written last by
  ``artifact_io.publish``.  A serve session checks it with
  ``artifact_io.is_current`` and only rebuilds when the corpus actually
  changed; a FRESH session over an unchanged corpus serves with zero
  training work (``tests/test_ann_index.py`` proves this by making
  training raise).

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
vector indexing; this extends the engine for the LLM-data-pipeline tier.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import artifact_io

FORMAT_VERSION = 2  # v2: fingerprint gained the all-dims L1 term


def default_index_root() -> str:
    """Repo-local artifact root (spark-warehouse/ is gitignored); override
    with SPARK_GRAFT_INDEX_DIR (a shared filesystem / object-store prefix
    in a real deployment)."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR", os.path.join(repo, "spark-warehouse", "ann_index")
    )


def index_path(sf_dir: str, root: str | None = None) -> str:
    """Artifact directory for one fixture.  Keyed on the basename (human-
    readable) PLUS a hash of the normalized absolute path, so two fixtures
    that share a basename under different parents (``/root/testdata/sf0.1``
    vs ``/tmp/other/sf0.1``) get distinct index directories instead of
    silently invalidating each other on every alternation."""
    norm = os.path.normpath(sf_dir)
    base = os.path.basename(norm)
    tag = hashlib.md5(os.path.abspath(norm).encode("utf-8")).hexdigest()[:8]
    return os.path.join(root or default_index_root(), f"{base}-{tag}")


def corpus_fingerprint(emb: DataFrame) -> str:
    """Cheap corpus identity: row count + id-sum + two value-sensitive
    terms — the quantized sum of the leading embedding dimension AND the
    quantized sum of full-vector L1 norms, so an edit confined to dims 2+
    (ids and count unchanged) still invalidates the index.  Still ONE
    aggregate scan; four longs to the driver."""
    l1 = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x.cast("double")),
    )
    row = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").cast("long").alias("ids"),
        F.sum(
            F.floor(F.element_at("embedding", 1).cast("double") * 1e6)
        ).cast("long").alias("v"),
        F.sum(F.floor(l1 * 1e6)).cast("long").alias("l1"),
    ).collect()[0]
    return f"{row.n}:{row.ids}:{row.v}:{row.l1}"


def centroid_table(spark: SparkSession,
                   centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """The k centroid rows as one small table (one parquet file)."""
    from ..inline import inline_table

    return inline_table(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in sorted(centroids)],
        "cid long, ce array<double>",
    ).coalesce(1)


def write_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    fingerprint: str,
    params: dict,
) -> None:
    """The index build job: centroids + the cell-partitioned corpus,
    published through ``artifact_io.publish`` (manifest last)."""
    from .similarity import ivf_assign

    spark = emb.sparkSession
    artifact_io.publish(
        spark, path, FORMAT_VERSION, fingerprint, params,
        {"centroids": centroid_table(spark, centroids),
         "cells": ivf_assign(emb, centroids)},
        partition_by={"cells": "cell"},
    )


def load_centroids(spark: SparkSession, path: str) -> list[tuple[int, list[float]]]:
    """k rows to the driver — the bounded collect every probe needs."""
    rows = artifact_io.load(spark, path, "centroids").collect()
    return sorted((int(r.cid), [float(x) for x in r.ce]) for r in rows)
