"""Persisted BPE tokenizer artifacts: train→write→reload→encode lifecycle.

The production claim under test: the merge-table + folded-vocab parquet
on disk are sufficient to TOKENIZE — a session that never learned merges
(and cannot, we make learning raise) reports token counts identical to
the in-session gate, and a corpus change invalidates the artifacts.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpch_spark.operators import artifact_io as aio
from datafusion_tpch_spark.queries import curation as cu

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_matches_in_session_encode(spark, index_dir):
    """Persistence changes the tokenizer's lifetime, not its counts."""
    got = cu.docs_bpe_persisted_encode(spark, SF_DIR).orderBy("doc_id").collect()
    want = cu.docs_bpe_encode(spark, SF_DIR).orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_merge_table_is_the_learned_one(spark, index_dir):
    cu.docs_bpe_persisted_encode(spark, SF_DIR).collect()
    path = cu._bpe_artifact_path(SF_DIR)
    stored = spark.read.parquet(os.path.join(path, "merges")).orderBy("rank")
    stored_pairs = [r.pair for r in stored.collect()]
    docs = cu._t(spark, SF_DIR, "documents")[0]
    from pyspark.sql import functions as F

    from datafusion_tpch_spark.functions import text

    vocab = (
        docs.select(F.explode(text.words(F.col("text"))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    assert stored_pairs == cu._bpe_merges(vocab)
    assert len(stored_pairs) == cu._BPE_ENC_K


def test_fresh_session_encodes_without_learning(spark, index_dir,
                                                monkeypatch):
    """Simulated fresh session: merge LEARNING and vocabulary FOLDING both
    made to raise — encoding must succeed purely from the artifacts."""
    rows1 = cu.docs_bpe_persisted_encode(spark, SF_DIR).orderBy("doc_id").collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("serve path attempted to retrain the tokenizer")

    monkeypatch.setattr(cu, "_bpe_merges", boom)
    monkeypatch.setattr(cu, "_bpe_token_count", boom)
    monkeypatch.setattr(cu, "_write_bpe_artifacts", boom)
    rows2 = cu.docs_bpe_persisted_encode(spark, SF_DIR).orderBy("doc_id").collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_param_change_invalidates(spark, index_dir, monkeypatch):
    cu.docs_bpe_persisted_encode(spark, SF_DIR).collect()
    path = cu._bpe_artifact_path(SF_DIR)
    assert aio.read_manifest(path)["enc_k"] == cu._BPE_ENC_K
    calls = []
    real = cu._write_bpe_artifacts

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(cu, "_write_bpe_artifacts", spy)
    cu.docs_bpe_persisted_encode(spark, SF_DIR).collect()
    assert not calls  # unchanged params reuse the artifacts
    monkeypatch.setattr(cu, "_BPE_ENC_K", cu._BPE_ENC_K + 1)
    cu.docs_bpe_persisted_encode(spark, SF_DIR).collect()
    assert calls  # a bigger merge table is a different tokenizer
