"""The session memo (``session.memo``/``forget``) is the one store of
per-session engine state: persisted intermediates, fixture frames,
fingerprints, stream sinks and maintained stream state."""

from __future__ import annotations

import gc
import weakref

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.queries import extensions as ext
from datafusion_tpch_spark.session import forget, memo
from tests.conftest import SF_DIR


def test_memo_is_per_session_and_sweeps_stopped_sessions(spark):
    """``spark.newSession()`` shares the applicationId but not the frames
    built in the first session, so it must build its own; and a stopped
    session's entries go on the next access even though a cached value
    references its session, which keeps a weak key alive forever."""
    built = []

    def build(session):
        def run():
            built.append(session)
            return session.range(3)
        return run

    first = ext._session_table(spark, SF_DIR, "memo_probe", build(spark))
    assert ext._session_table(spark, SF_DIR, "memo_probe", build(spark)) is first
    fresh = spark.newSession()
    other = ext._session_table(fresh, SF_DIR, "memo_probe", build(fresh))
    assert built == [spark, fresh], "newSession() got the first session's frame"
    assert other.sparkSession is fresh
    forget(spark, "table")
    forget(fresh, "table")

    class _FakeSC:
        _jsc = None  # what a stopped SparkContext leaves behind

    class _FakeSession:
        _sc = _FakeSC()

    dead = _FakeSession()
    frame = load_table(spark, SF_DIR, "nation")
    # the value references its key, as a cached DataFrame does its session
    memo(dead, ("load_table", SF_DIR, "nation"), lambda: (frame, dead))
    dead_ref = weakref.ref(dead)
    del dead
    gc.collect()
    assert dead_ref() is not None  # weak keys alone never free it
    assert load_table(spark, SF_DIR, "nation") is frame, "live entry lost"
    gc.collect()
    assert dead_ref() is None, "stopped session's entry survived an access"


def test_forget_unpersists_what_it_drops(spark):
    """``forget`` leaves Spark's cache as it found it before the gate ran,
    so a gate run after it is cold."""
    def persistent_rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    forget(spark)
    before = persistent_rdds()
    ext.dedup_minhash_lsh(spark, SF_DIR).collect()
    assert persistent_rdds() > before
    forget(spark)
    assert persistent_rdds() == before
