"""Persisted PQ index: build→write→reload→ADC-serve lifecycle.

The production claim under test: the codebook + codes artifacts on disk
are sufficient to serve — a session that never derived a codebook (and
CANNOT, we make derivation raise) ranks bit-identically to the
in-session ``ann_pq_topk`` plan.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpch_spark.operators import ann_index as ai
from datafusion_tpch_spark.operators import artifact_io as aio
from datafusion_tpch_spark.operators import pq_index as pqi
from datafusion_tpch_spark.queries import extensions as ext
from datafusion_tpch_spark.session import forget

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "ann_index")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_build_writes_artifacts_and_serves(spark, index_dir):
    rows = ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    assert len(rows) > 0
    path = pqi.pq_index_path(SF_DIR, index_dir)
    assert os.path.exists(os.path.join(path, "manifest.json"))
    assert os.path.isdir(os.path.join(path, "codebooks"))
    assert os.path.isdir(os.path.join(path, "codes"))


def test_codes_artifact_is_narrow(spark, index_dir):
    """The stored artifact is m small ints per vector — NOT the
    reconstruction (which would be the corpus back at full width)."""
    ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    path = pqi.pq_index_path(SF_DIR, index_dir)
    codes = aio.load(spark, path, "codes")
    assert set(codes.columns) == {"vec_id", "codes"}
    sample = codes.limit(5).collect()
    assert all(len(r.codes) == ext._PQ_M for r in sample)
    assert all(0 <= c < ext._PQ_K for r in sample for c in r.codes)


def test_matches_in_session_pq(spark, index_dir):
    """Persistence changes the index's lifetime, not its answers: the
    in-plan ADC decode must rank bit-identically to ann_pq_topk."""
    rows = ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    expect = ext.ann_pq_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]


def test_fresh_session_serves_without_codebook(spark, index_dir, monkeypatch):
    """Simulated fresh session: codebook derivation AND corpus encoding
    made to raise — serve must succeed purely from the artifacts."""
    rows1 = ext.ann_pq_persisted_topk(spark, SF_DIR).collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("serve path attempted to re-derive the codebook")

    monkeypatch.setattr(ext, "_pq_codebook", boom)
    monkeypatch.setattr(pqi, "write_pq_index", boom)
    rows2 = ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_corpus_or_param_change_invalidates(spark, index_dir):
    path = pqi.pq_index_path(SF_DIR, index_dir)
    emb = ext._t(spark, SF_DIR, "embeddings")[0]
    fp = ai.corpus_fingerprint(emb)
    params = {"pq_m": ext._PQ_M, "pq_k": ext._PQ_K, "pq_sub": ext._PQ_SUB}

    def current(fp, params):
        return aio.is_current(spark, path, ai.FORMAT_VERSION, fp, params)

    assert not current(fp, params)  # nothing written yet
    ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    assert current(fp, params)
    assert not current(fp + "x", params)
    assert not current(fp, {"pq_k": 99})


def test_ivfpq_persisted_matches_in_session(spark, index_dir):
    """The persisted composition ranks bit-identically to the in-session
    IVF-PQ plan — same trained centroids, same codebook, same ADC."""
    rows = ext.ann_ivf_pq_persisted_topk(spark, SF_DIR).collect()
    expect = ext.ann_ivf_pq_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]
    path = pqi.ivfpq_index_path(SF_DIR, index_dir)
    assert os.path.exists(os.path.join(path, "manifest.json"))
    cell_dirs = [d for d in os.listdir(os.path.join(path, "cells"))
                 if d.startswith("cell=")]
    assert len(cell_dirs) > 1, "inverted code lists must be directories"


def test_ivfpq_fresh_session_serves_from_artifacts(spark, index_dir,
                                                   monkeypatch):
    """Fresh session: training AND codebook derivation AND the fused
    encode made to raise — serve must succeed from the artifacts alone."""
    rows1 = ext.ann_ivf_pq_persisted_topk(spark, SF_DIR).collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("persisted IVF-PQ serve re-derived an index")

    monkeypatch.setattr(ext, "_ivf_trained_centroids", boom)
    monkeypatch.setattr(ext, "_pq_codebook", boom)
    monkeypatch.setattr(pqi, "write_ivfpq_index", boom)
    forget(spark, "ivf_centroids")
    rows2 = ext.ann_ivf_pq_persisted_topk(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows1]


def test_ivfpq_serve_scan_is_partition_pruned(spark, index_dir):
    """The probed-cell filter must reach the codes scan as a static
    partition filter, and the serve plan must stay JVM-only."""
    ext.ann_ivf_pq_persisted_topk(spark, SF_DIR).collect()
    path = pqi.ivfpq_index_path(SF_DIR, index_dir)
    df = ext._serve_persisted_ivfpq_topk(spark, SF_DIR, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pruned = [ln for ln in plan.splitlines()
              if "PartitionFilters: [cell#" in ln]
    assert pruned, plan
    for ln in pruned:
        assert "INSET" in ln or "IN (" in ln, ln
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_serve_plan_has_no_python_stage(spark, index_dir):
    """The ADC decode is a JVM expression over array literals — the serve
    plan must contain no Python/Arrow eval stage (the encode kernel runs
    in the BUILD job only)."""
    ext.ann_pq_persisted_topk(spark, SF_DIR).collect()
    path = pqi.pq_index_path(SF_DIR, index_dir)
    df = ext._serve_persisted_pq_topk(spark, SF_DIR, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_recon_expr_quoted_column_and_nonfinite_literals(spark):
    """pq_recon_expr splices the codes column into SQL text: a name
    needing backtick quoting must survive, and _double_lit must spell
    non-finite values with Spark's canonical tokens instead of leaning
    on the lenient cast of repr()'s 'inf'/'nan' (round-14 advisor
    note)."""
    from pyspark.sql import functions as F

    cb = [[[1.5, float("inf")], [float("-inf"), float("nan")]]]
    df = spark.range(1).select(
        F.array(F.lit(0)).alias("my codes")
    ).select(pqi.pq_recon_expr(cb, "my codes").alias("r"))
    got = list(df.collect()[0].r)
    assert got[0] == 1.5 and got[1] == float("inf")
    df2 = spark.range(1).select(
        F.array(F.lit(1)).alias("c")
    ).select(pqi.pq_recon_expr(cb, "c").alias("r"))
    got2 = list(df2.collect()[0].r)
    import math as _m
    assert got2[0] == float("-inf") and _m.isnan(got2[1])
