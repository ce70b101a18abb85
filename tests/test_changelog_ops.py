"""Semantics tests for the changelog / historization gates added in
round 6 (queries/extensions.py: events_cdc_merge, events_scd2_history,
events_rollup_cascade).

The driver's oracle gate proves Spark == DuckDB on each; these tests
prove the properties oracle equality alone can't — that the fixture
actually EXERCISES every merge action path, and that the derived
interval/rollup structures satisfy their defining invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.queries import all_queries
from datafusion_tpch_spark.queries.extensions import (
    _CDC_CUTOFF,
    _CDC_QUIET_MOD,
    _CDC_QUIET_REM,
    _CDC_TOMBSTONE,
    _CDC_UNSNAPPED_MOD,
)
from tests.conftest import memoized

SF_DIR = "/root/testdata/sf0.001"


def _build(spark, name):
    return all_queries()[name].build(spark, SF_DIR)


def _latest_per_user(ev, pred):
    return (
        ev.filter(pred)
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("t"))
    )


# ------------------------------------------------------------- CDC merge

def test_cdc_merge_exercises_every_action_path(spark):
    """insert/update/keep must all be present in the output, and the
    fixture must contain tombstoned keys (else the delete branch would
    be vacuously 'correct')."""
    out = _build(spark, "events_cdc_merge")
    actions = {
        r["action"]: r["n"]
        for r in out.groupBy("action").agg(F.count("*").alias("n")).collect()
    }
    assert set(actions) == {"insert", "update", "keep"}
    assert min(actions.values()) > 0

    ev = load_table(spark, SF_DIR, "events")
    cut = F.lit(_CDC_CUTOFF).cast("timestamp")
    feed_pred = (F.col("ts") >= cut) & (
        F.col("user_id") % _CDC_QUIET_MOD != _CDC_QUIET_REM
    )
    tombstoned = _latest_per_user(ev, feed_pred).filter(
        F.col("t") == _CDC_TOMBSTONE
    )
    n_tomb = tombstoned.count()
    assert n_tomb > 0, "fixture has no tombstones; delete path untested"
    # deleted keys must be absent from the merged state
    assert out.join(tombstoned, "user_id", "inner").count() == 0


def test_cdc_merge_action_semantics(spark):
    """Each action label must match base/changelog membership: keep keys
    have no post-cutoff change, insert keys no pre-cutoff snapshot row."""
    out = _build(spark, "events_cdc_merge")
    ev = load_table(spark, SF_DIR, "events")
    cut = F.lit(_CDC_CUTOFF).cast("timestamp")
    base_keys = {
        r["user_id"]
        for r in ev.filter(
            (F.col("ts") < cut)
            & (F.col("user_id") % _CDC_UNSNAPPED_MOD != 0)
        )
        .select("user_id")
        .distinct()
        .collect()
    }
    chg_keys = {
        r["user_id"]
        for r in ev.filter(
            (F.col("ts") >= cut)
            & (F.col("user_id") % _CDC_QUIET_MOD != _CDC_QUIET_REM)
        )
        .select("user_id")
        .distinct()
        .collect()
    }
    for r in out.collect():
        uid, act = r["user_id"], r["action"]
        if act == "keep":
            assert uid in base_keys and uid not in chg_keys
        elif act == "update":
            assert uid in base_keys and uid in chg_keys
        else:
            assert act == "insert" and uid not in base_keys and uid in chg_keys


# ---------------------------------------------------------- SCD2 history

def test_scd2_exactly_one_open_version_per_user(spark):
    out = _build(spark, "events_scd2_history")
    per_user = (
        out.groupBy("user_id").agg(F.sum("n_open").alias("open")).collect()
    )
    assert per_user and all(r["open"] == 1 for r in per_user)


def test_scd2_closed_dwell_spans_the_user_history(spark):
    """Validity intervals tile each user's event history: total closed
    dwell == last event ts - first event ts (in integer microseconds)."""
    out = _build(spark, "events_scd2_history")
    got = {
        r["user_id"]: r["dwell"]
        for r in out.groupBy("user_id")
        .agg(F.sum("closed_dwell_us").alias("dwell"))
        .collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    spans = {
        r["user_id"]: r["span"]
        for r in ev.groupBy("user_id")
        .agg(
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
                "span"
            )
        )
        .collect()
    }
    assert got == spans


def test_scd2_version_counts_cover_every_event(spark):
    out = _build(spark, "events_scd2_history")
    n_versions = out.agg(F.sum("n_versions")).collect()[0][0]
    n_events = load_table(spark, SF_DIR, "events").count()
    assert n_versions == n_events


# -------------------------------------------------------- rollup cascade

def test_rollup_cascade_partial_counts_are_monotone(spark):
    """day >= hours >= minutes partial counts, every count positive, and
    the cascaded event total equals the raw table count."""
    rows = _build(spark, "events_rollup_cascade").collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_hours"] <= r["n_minutes"] <= r["n_events"]
    total = sum(r["n_events"] for r in rows)
    assert total == load_table(spark, SF_DIR, "events").count()


def test_rollup_cascade_matches_direct_day_rollup(spark):
    """Re-aggregating from minute->hour partials must be bit-equal to
    aggregating raw events straight to days (associativity of the count
    and the fixed-point decimal sum)."""
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in _build(spark, "events_rollup_cascade").collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    q = F.floor(F.col("value").cast("double") * F.lit(float(10**8))).cast(
        "decimal(38,0)"
    )
    direct = {
        (r["day"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(q).cast("double") / F.lit(float(10**8))).alias("s"),
        )
        .collect()
    }
    assert got == direct


# ------------------------------------------------------ streaming CDC

def test_cdc_stream_equals_batch_merge_state(spark):
    """The foreachBatch-maintained state table must equal the batch CDC
    merge's state columns row-for-row (batch boundaries must not show)."""
    got = _build(spark, "events_cdc_stream").collect()
    want = (
        _build(spark, "events_cdc_merge")
        .select("user_id", "state_value", "state_ts", "state_type")
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_cdc_stream_really_ran_multiple_batches(spark):
    """maxFilesPerTrigger=1 over the 4-file layout must yield >=2 real
    micro-batches — otherwise the incremental-merge claim is untested."""
    _build(spark, "events_cdc_stream").collect()
    (_, n_batches) = memoized(spark, "stream", "events_cdc_stream", SF_DIR)
    assert n_batches >= 2, f"only {n_batches} micro-batch(es)"


# ------------------------------------------------------ streaming SCD2

def test_scd2_stream_equals_batch_history(spark):
    """The foreachBatch-maintained (closed-aggregate, open-version) state
    tables must reproduce the batch SCD2 derivation exactly — cross-batch
    version closure attributes every boundary dwell to the right type."""
    got = _build(spark, "events_scd2_stream").collect()
    want = _build(spark, "events_scd2_history").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_scd2_stream_really_ran_multiple_batches(spark):
    _build(spark, "events_scd2_stream").collect()
    n_batches = memoized(spark, "stream", "events_scd2_stream", SF_DIR)[1]
    assert n_batches >= 2, f"only {n_batches} micro-batch(es)"
