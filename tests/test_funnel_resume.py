"""Checkpointable curation funnel: per-stage parquet + manifest resume.

The production claims under test: (1) the checkpointed funnel's yield
report equals the one-shot lazy plan's exactly; (2) a run killed between
stages resumes from the first unrecorded stage without recomputing the
finished ones; (3) a corpus/param change invalidates the checkpoints.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpch_spark.operators import artifact_io as aio
from datafusion_tpch_spark.queries import curation as cu
from datafusion_tpch_spark.queries import extensions as ext

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_resumable_equals_one_shot(spark, index_dir):
    got = cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    want = cu.docs_pipeline_yield_full(spark, SF_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stage_artifacts_and_manifest(spark, index_dir):
    cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    path = cu._funnel_path(SF_DIR)
    m = aio.read_manifest(path)
    assert m is not None and m["stages_done"] == [1, 2, 3, 4, 5, 6]
    for idx in range(1, 7):
        assert os.path.isdir(cu._funnel_stage_dir(path, idx)), idx
    # survivors are plain parquet any downstream consumer can read
    s6 = spark.read.parquet(cu._funnel_stage_dir(path, 6))
    assert set(s6.columns) == {"doc_id", "n_tok"}


def test_kill_between_stages_resumes_without_recompute(spark, index_dir,
                                                       monkeypatch):
    """Kill the run as stage 4 starts: stages 1-3 are recorded; the rerun
    must build ONLY stages 4-6 (building 1-3 again raises)."""
    real_build = cu._funnel_stage_build

    def killed_at_4(spark_, sf_dir_, path_, idx_):
        if idx_ == 4:
            raise RuntimeError("simulated kill at stage 4")
        return real_build(spark_, sf_dir_, path_, idx_)

    monkeypatch.setattr(cu, "_funnel_stage_build", killed_at_4)
    with pytest.raises(RuntimeError, match="simulated kill"):
        cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    path = cu._funnel_path(SF_DIR)
    assert aio.read_manifest(path)["stages_done"] == [1, 2, 3]

    def only_late_stages(spark_, sf_dir_, path_, idx_):
        assert idx_ >= 4, f"stage {idx_} was recomputed after the kill"
        return real_build(spark_, sf_dir_, path_, idx_)

    monkeypatch.setattr(cu, "_funnel_stage_build", only_late_stages)
    got = cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    assert aio.read_manifest(path)["stages_done"] == [1, 2, 3, 4, 5, 6]
    want = cu.docs_pipeline_yield_full(spark, SF_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_completed_run_reports_with_zero_stage_builds(spark, index_dir,
                                                      monkeypatch):
    cu.docs_pipeline_resumable(spark, SF_DIR).collect()

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("completed funnel must not rebuild any stage")

    monkeypatch.setattr(cu, "_funnel_stage_build", boom)
    rows = cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    assert len(rows) == 6


def test_param_change_invalidates_checkpoints(spark, index_dir, monkeypatch):
    cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    path = cu._funnel_path(SF_DIR)
    assert aio.read_manifest(path)["stages_done"] == [1, 2, 3, 4, 5, 6]
    # a different length floor is a different funnel: full restart
    monkeypatch.setattr(cu, "_YIELD_MIN_TOK", cu._YIELD_MIN_TOK + 1)
    cu.docs_pipeline_resumable(spark, SF_DIR).collect()
    m = aio.read_manifest(path)
    assert m["min_tok"] == cu._YIELD_MIN_TOK
    assert m["stages_done"] == [1, 2, 3, 4, 5, 6]
