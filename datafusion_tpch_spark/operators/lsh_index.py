"""Persisted MinHash-LSH bucket index: build-to-parquet, validate, reload.

The near-dup admission family (``dedup_incremental_lsh``, the streaming
admission gates) probes a corpus (band, bkey) bucket index that until now
lived only as a session cache — rebuilt from the raw corpus every session.
A production crawl-ingest pipeline separates those lifetimes exactly the
way ``ann_index.py`` does for the IVF index: an INDEX BUILD JOB hashes the
corpus once and writes the bucket table to storage; any number of later
ADMISSION sessions hash only their incoming batch and semi-join it against
the stored cells.

- ``cells/`` — one row per occupied (band, bkey) cell with its corpus
  occupancy ``n_docs``, written ``partitionBy("band")`` so the band id is
  a PARTITION COLUMN: a probe restricted to a band subset is a statically
  partition-pruned scan (plan-asserted in ``tests/test_lsh_index.py``).
  Occupancy is stored rather than pre-filtered so the hot-cell cap stays a
  SERVE-side parameter (like nprobe for the ANN index): raising or
  lowering the boilerplate threshold never forces a rebuild.
- ``manifest.json`` — build parameters + a corpus fingerprint (row count,
  id-sum, value-sensitive text checksum).  ``artifact_io.publish`` writes
  it LAST, so a killed build leaves no manifest and the next session
  rebuilds instead of serving half-written cells; ``artifact_io.load``
  with ``column="band"`` is the pruned probe.

No reference-engine counterpart: ``/root/reference/src/lib.rs`` has no
dedup tier; this extends the engine for the LLM-data-pipeline workload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ann_index, artifact_io

FORMAT_VERSION = 1


def lsh_index_path(sf_dir: str, root: str | None = None) -> str:
    """Sibling of the ANN index dirs under the same artifact root, same
    basename+path-hash keying (two fixtures sharing a basename get
    distinct directories)."""
    return ann_index.index_path(sf_dir, root) + "_lsh"


def corpus_text_fingerprint(docs: DataFrame) -> str:
    """Cheap corpus identity for a (doc_id, text) table: row count,
    id-sum, and a value-sensitive term (sum of per-doc text CRC32s), so a
    regenerated corpus with the same shape but different text invalidates.
    One aggregate scan, three longs to the driver."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("long").alias("ids"),
        F.sum(F.crc32(F.col("text").cast("string"))).cast("long").alias("v"),
    ).collect()[0]
    return f"{row.n}:{row.ids}:{row.v}"


def write_lsh_index(
    cells: DataFrame,
    path: str,
    fingerprint: str,
    params: dict,
) -> None:
    """The index build job: persist a band-keyed bucket table — the
    (band, bkey, n_docs) occupancy form for batch admission, or the
    per-doc (doc_id, band, bkey, from_stream) MEMBERSHIP form the durable
    ingest loop appends to — band-partitioned, through
    ``artifact_io.publish`` (manifest last)."""
    artifact_io.publish(
        cells.sparkSession, path, FORMAT_VERSION, fingerprint, params,
        {"cells": cells}, partition_by={"cells": "band"},
    )
