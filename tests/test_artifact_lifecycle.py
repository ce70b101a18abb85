"""The one publish path, killed at its manifest write, for every artifact
kind and over both IO branches (POSIX and the Hadoop FileSystem).

A first build killed there leaves the artifact not current and the next
call rebuilds it; a rebuild killed there leaves NO manifest — the stale
one is gone before any table is overwritten, so yesterday's manifest can
never vouch for half-rewritten tables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrameWriter

from datafusion_tpch_spark.operators import ann_index as ai
from datafusion_tpch_spark.operators import artifact_io as aio
from datafusion_tpch_spark.operators import lsh_index as li
from datafusion_tpch_spark.operators import pq_index as pqi
from datafusion_tpch_spark.queries import curation as cu
from datafusion_tpch_spark.queries import extensions as ext

from tests.conftest import SF_DIR

# kind -> (gate, artifact path, format version, fingerprinted table)
KINDS = {
    "ivf": (ext.ann_persisted_index_topk, ai.index_path,
            ai.FORMAT_VERSION, "embeddings"),
    "pq": (ext.ann_pq_persisted_topk, pqi.pq_index_path,
           ai.FORMAT_VERSION, "embeddings"),
    "ivfpq": (ext.ann_ivf_pq_persisted_topk, pqi.ivfpq_index_path,
              ai.FORMAT_VERSION, "embeddings"),
    "lsh": (ext.dedup_persisted_lsh, li.lsh_index_path,
            li.FORMAT_VERSION, "documents"),
    "bpe": (cu.docs_bpe_persisted_encode, cu._bpe_artifact_path,
            cu._BPE_ARTIFACT_FORMAT, "documents"),
}


@pytest.mark.parametrize("root_kind", ["posix", "file_uri"])
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_killed_publish_leaves_no_current_manifest(spark, tmp_path,
                                                   monkeypatch, kind,
                                                   root_kind):
    root = str(tmp_path / "idx")
    if root_kind == "file_uri":
        root = "file://" + root
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    gate, path_of, fmt, table = KINDS[kind]
    path = path_of(SF_DIR)
    assert path.startswith(root)
    fp = ext._corpus_fingerprint(spark, SF_DIR, table)
    real_write = aio._write_manifest
    real_publish = aio.publish
    stale_at_kill = []

    def killed(p, manifest, spark=None):
        stale_at_kill.append(aio.read_manifest(p, spark=spark))
        raise RuntimeError("simulated kill at the manifest write")

    # 1. first build killed: not current, and the next call rebuilds
    monkeypatch.setattr(aio, "_write_manifest", killed)
    with pytest.raises(RuntimeError, match="simulated kill"):
        gate(spark, SF_DIR).collect()
    assert aio.read_manifest(path, spark=spark) is None
    assert not aio.is_current(spark, path, fmt, fp, {})
    published = []

    def spy(*a, **k):
        published.append(a[1])
        return real_publish(*a, **k)

    monkeypatch.setattr(aio, "_write_manifest", real_write)
    monkeypatch.setattr(aio, "publish", spy)
    assert gate(spark, SF_DIR).collect()
    assert published == [path]
    assert aio.is_current(spark, path, fmt, fp, {})

    # 2. a rebuild over the existing artifact (its corpus moved), killed
    # after its tables are written: no manifest survives, and none was
    # there while any table was overwritten
    aio.update_manifest(path, spark=spark, fingerprint="stale")
    at_table_write = []
    real_parquet = DataFrameWriter.parquet

    def watched(self, *a, **k):
        at_table_write.append(aio.read_manifest(path, spark=spark))
        return real_parquet(self, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", watched)
    monkeypatch.setattr(aio, "_write_manifest", killed)
    with pytest.raises(RuntimeError, match="simulated kill"):
        gate(spark, SF_DIR).collect()
    assert at_table_write and not any(at_table_write), \
        "a table was overwritten under the stale manifest"
    assert stale_at_kill == [None, None], "stale manifest outlived the rebuild"
    assert aio.read_manifest(path, spark=spark) is None
