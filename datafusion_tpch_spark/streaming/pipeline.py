"""Streaming event analytics: watermarked windows + session windows.

Design: each transformation is a pure function ``streaming DataFrame ->
streaming DataFrame`` so the same plan attaches to any source (file stream
here, Kafka/rate in production).  ``runner.run_stream_to_df`` executes a
plan over the *bounded* fixture data with ``Trigger.AvailableNow`` into a
memory sink and hands back the result as a plain DataFrame — which is how
the driver's DuckDB oracle can hash-check streaming semantics against
batch SQL.

Scale notes (100 TB / unbounded):
- the hourly aggregation keys state by (window, event_type) — cardinality is
  bounded by |event_type| x watermark horizon, so state stays tiny no matter
  the input rate; late rows beyond 2 hours are dropped by the watermark.
- session windows key state by (user_id, session); Spark merges overlapping
  session fragments across micro-batches and the watermark bounds state
  growth to the active-session horizon.
- the memory sink is test-only; production sinks are parquet/kafka with a
  durable checkpoint — same plan object.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum

from ..catalog import (
    EVENTS_MICROS_SCHEMA,
    EVENTS_RAW_SCHEMA,
    events_ts_is_nanos,
)

SESSION_GAP_MIN = 30


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the fixture ``events`` parquet.

    Fixture generations differ in the parquet unit of ``ts``: NANOS builds
    are read through an explicit int64 schema (no session-global legacy
    flag) and rebuilt as microsecond timestamps — identical truncation to
    the batch path (catalog.load_table) and DuckDB's nanos->micros
    narrowing; MICROS builds read through an explicit TIMESTAMP schema
    (pinning TimestampType, not the inferred NTZ).  Either way stream
    results hash-match the batch path.
    """
    # the fixture is a single file inside a dir of other tables; a glob with
    # an explicit basePath scopes the file-stream listing to just events.*
    path = os.path.join(sf_dir, "events.parquet")
    if events_ts_is_nanos(path):
        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("basePath", sf_dir)
            .parquet(path + "*")
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(EVENTS_MICROS_SCHEMA)
        .option("basePath", sf_dir)
        .parquet(path + "*")
    )


def hourly_agg_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event type (streaming form of
    queries.extensions.events_hourly): watermarked event-time aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions via the native ``session_window`` operator.

    A session extends ``SESSION_GAP_MIN`` past each event; an event lands in
    a new session iff its gap from the previous one is **>= the gap** (window
    [ts, ts+gap) half-open overlap rule) — the oracle SQL mirrors exactly
    that boundary.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def sliding_agg_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding (hopping) windows: 3-hour windows advancing every hour, so
    each event contributes to exactly 3 windows.  Same watermark/state
    rules as the tumbling form — state cardinality is (window x type) x
    3 overlap factor, still bounded by the watermark horizon regardless
    of input rate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "3 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_keys_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication: first-seen key set over the event stream.

    ``dropDuplicates`` keeps one row per key in the state store and emits it
    on first arrival — the streaming ingest-dedup staple (an upstream
    at-least-once delivery becomes exactly-once keyed output).  Only the
    *key columns* are emitted: which physical row arrives first is a race
    in any distributed stream, so emitting payload columns would be
    nondeterministic, but the surviving key set is exact — and equals the
    batch ``SELECT DISTINCT``, which is what the oracle checks.

    State: one entry per distinct key, forever — correct for bounded
    one-shot runs.  An unbounded production stream with a time-scoped
    uniqueness contract uses ``dropDuplicatesWithinWatermark`` instead so
    the watermark (declared here for that reason) evicts old keys.
    """
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def click_purchase_join_stream(
    events: DataFrame, watermark: str = "2 hours", horizon: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    purchase joins every click by the same user within the preceding
    ``horizon``.

    The canonical attribution-join shape.  Both sides carry watermarks and
    the join condition bounds click_ts relative to purchase_ts, so Spark
    can size the state store exactly: a click is held only until the
    watermark passes ``click_ts + horizon``, a purchase until its own
    watermark — state is O(rate x horizon), independent of stream length.
    Inner join in append mode emits each matched pair exactly once; over
    bounded input (AvailableNow) the emitted set equals the batch interval
    join, which is what the oracle checks.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user_id)
        & (clicks.click_ts <= purchases.purchase_ts)
        & (
            clicks.click_ts
            >= purchases.purchase_ts - F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "click_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
    )
