"""applyInPandasWithState sessionization == batch lag/running-sum
sessionization (the events_sessionize oracle semantics, strict > gap)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_tpch_spark.catalog import load_table
from datafusion_tpch_spark.streaming import read_events_stream, run_stream_to_df
from datafusion_tpch_spark.streaming.stateful import sessionize_with_state

SF_DIR = "/root/testdata/sf0.001"


def _final_sessions(df):
    """Dedup re-emitted open sessions: keep max extent per (user, start)."""
    return df.groupBy("user_id", "session_start").agg(
        F.max("n_events").alias("n_events")
    )


def test_stateful_sessionize_equals_batch(spark):
    stream = sessionize_with_state(read_events_stream(spark, SF_DIR))
    raw = run_stream_to_df(
        spark, stream, "t_state_sessions", SF_DIR, output_mode="append"
    )
    got = (
        _final_sessions(raw)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
        .collect()
    )

    ev = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    want = (
        ev.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
