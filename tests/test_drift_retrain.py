"""Drift alarm -> retrain -> persisted-index swap lifecycle.

The production claims under test: the swap is ONE alias flip written
after all artifacts land (a kill anywhere mid-swap leaves the old
generation serving), the alias is only honored when its target index is
current, and the post-swap serve is the trained-IVF plan bit-for-bit.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpch_spark.operators import ann_index as ai
from datafusion_tpch_spark.queries import extensions as ext
from datafusion_tpch_spark.queries import stream as st

from tests.conftest import SF_DIR


@pytest.fixture()
def index_dir(tmp_path, monkeypatch):
    root = str(tmp_path / "ann_index")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_drift_fires_and_swap_serves_trained_index(spark, index_dir):
    rows = st.embeddings_drift_retrain(spark, SF_DIR).collect()
    assert rows and all(r.index_version == 2 for r in rows)
    assert all(r.n_drifted_cells > 0 for r in rows)
    # post-swap ranking is the trained-IVF plan, bit-for-bit
    expect = ext.ann_ivf_topk(spark, SF_DIR).collect()
    assert [(r.query_id, r.cand_id, r.cos_sim, r.rank) for r in rows] == [
        tuple(r) for r in expect
    ]
    base = st._drift_base_path(SF_DIR)
    assert os.path.exists(st._drift_alias_path(base))
    assert os.path.exists(os.path.join(base, "v1", "manifest.json"))
    assert os.path.exists(os.path.join(base, "v2", "manifest.json"))


def test_kill_mid_swap_serves_old_index(spark, index_dir, monkeypatch):
    """Simulated crash between the v2 artifact write and the alias flip:
    the serve path must keep answering from v1; a later healthy run
    completes the swap."""

    def boom(*a, **k):
        raise RuntimeError("killed mid-swap (before alias flip)")

    monkeypatch.setattr(st, "_flip_alias", boom)
    with pytest.raises(RuntimeError, match="mid-swap"):
        st.embeddings_drift_retrain(spark, SF_DIR).collect()

    base = st._drift_base_path(SF_DIR)
    # v2 artifacts fully landed, but the alias never flipped
    assert os.path.exists(os.path.join(base, "v2", "manifest.json"))
    assert not os.path.exists(st._drift_alias_path(base))
    fp = ext._corpus_fingerprint(spark, SF_DIR, "embeddings")
    version, serve = st._drift_serve_active(spark, SF_DIR, fp)
    assert version == "v1"
    served = serve.collect()
    v1_expect = ext._serve_persisted_ivf_topk(
        spark, SF_DIR, base + "/v1"
    ).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in v1_expect]

    # healthy retry completes the swap and serves v2
    monkeypatch.undo()
    rows = st.embeddings_drift_retrain(spark, SF_DIR).collect()
    assert all(r.index_version == 2 for r in rows)
    version2, serve2 = st._drift_serve_active(spark, SF_DIR, fp)
    assert version2 == "v2"
    served2 = serve2.collect()
    v2_expect = ext._serve_persisted_ivf_topk(
        spark, SF_DIR, base + "/v2"
    ).collect()
    assert [tuple(r) for r in served2] == [tuple(r) for r in v2_expect]


def test_alias_ignored_when_target_stale(spark, index_dir):
    """An alias pointing at an index built for a DIFFERENT corpus must
    fall back to v1 — a swapped-in index never outlives its fingerprint."""
    st.embeddings_drift_retrain(spark, SF_DIR).collect()
    base = st._drift_base_path(SF_DIR)
    emb = ext._t(spark, SF_DIR, "embeddings")[0]
    fp = ai.corpus_fingerprint(emb)
    assert st._drift_active_version(spark, base, fp) == "v2"
    st._flip_alias(spark, base, "v2", fp + "x")  # stale-corpus alias
    assert st._drift_active_version(spark, base, fp) == "v1"
    # and an alias naming a generation with no current manifest: v1
    st._flip_alias(spark, base, "v3", fp)
    assert st._drift_active_version(spark, base, fp) == "v1"


def test_warm_run_leaves_alias_unwritten(spark, index_dir):
    """Once v2 is active for this corpus, a later run serves it without
    rewriting the alias (no object-store PUT per query)."""
    st.embeddings_drift_retrain(spark, SF_DIR).collect()
    alias = st._drift_alias_path(st._drift_base_path(SF_DIR))
    os.utime(alias, (1_000_000_000, 1_000_000_000))
    rows = st.embeddings_drift_retrain(spark, SF_DIR).collect()
    assert rows and all(r.index_version == 2 for r in rows)
    assert os.stat(alias).st_mtime == 1_000_000_000
