"""Streaming queries, oracle-checked.

Each runs a Structured Streaming plan (watermark + event-time windows /
session windows) over the bounded fixture `events` stream with the
AvailableNow trigger, so the final answer is deterministic and must equal
the batch SQL the DuckDB oracle runs.  This is the strongest correctness
statement available for streaming semantics: the stream and the oracle
agree row-for-row, hash-for-hash.

The reference has no streaming surface at all (SURVEY.md §2.9 — batch-only
by construction, `/root/reference/src/lib.rs:113-126`); these are north-star
extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum_sql
from ..operators import dedup
from ..operators.fanout import kernel_front
from ..session import memo
from ..streaming import (
    click_purchase_join_stream,
    dedup_keys_stream,
    hourly_agg_stream,
    read_events_stream,
    session_window_stream,
    sliding_agg_stream,
)
from ..streaming.runner import file_feed, run_fold, run_stream_to_df
from . import QuerySpec


def events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, streaming execution."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = hourly_agg_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_df(spark, stream, "events_hourly_stream", sf_dir).orderBy(
        "hour", "event_type"
    )


# identical to EVENTS_HOURLY_SQL: a 1-hour tumbling window's start IS the
# hour truncation of every timestamp inside it.
EVENTS_HOURLY_STREAM_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY hour, event_type
ORDER BY hour, event_type
"""


def events_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization, streaming execution."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = session_window_stream(read_events_stream(spark, sf_dir))
    # session-merge state is per (user, session) — far more keys than the
    # window/type aggregates, so it profits from more state partitions
    # (measured at sf0.1: 2/4/8 parts = 1.19/1.03/0.96 s)
    return run_stream_to_df(
        spark, stream, "events_session_stream", sf_dir, partitions=8
    ).orderBy("user_id", "session_start")


# session_window boundary rule: event windows are [ts, ts+gap) and merge on
# overlap, so a new session starts iff gap >= 30 min (note >=, vs the strict
# > of the lag-based batch sessionization in extensions.py).
_GAP_US = 30 * 60 * 1_000_000
EVENTS_SESSION_STREAM_SQL = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= {_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def events_enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (broadcast — the dimension is re-read per
    micro-batch, never shuffled with the stream), then aggregates per
    (segment, event_type).  The canonical realtime-enrichment shape."""
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..functions.exact import dsum

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        events.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )
    return run_stream_to_df(spark, enriched, "events_enriched_stream", sf_dir).orderBy(
        "c_mktsegment", "event_type"
    )


EVENTS_ENRICHED_STREAM_SQL = f"""
SELECT c_mktsegment, event_type,
       COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type
"""


def events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (hopping) aggregation, streaming execution: 3-hour
    windows every hour."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = sliding_agg_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_df(spark, stream, "events_sliding_stream", sf_dir).orderBy(
        "win_start", "event_type"
    )


# a 3h/1h sliding window's starts for an event at hour h are h, h-1, h-2
# (hour-aligned, epoch-anchored) — so expanding each event into its three
# windows reproduces Spark's window(ts, '3 hours', '1 hour') exactly.
EVENTS_SLIDING_STREAM_SQL = f"""
WITH expanded AS (
  SELECT date_trunc('hour', ts) - o.i * INTERVAL 1 HOUR AS win_start,
         event_type, value
  FROM events CROSS JOIN (SELECT UNNEST(range(0, 3)) AS i) o)
SELECT win_start, event_type, COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM expanded
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


def events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: first-seen (user_id, event_type) key set,
    append-mode output — the surviving key set equals batch DISTINCT."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = dedup_keys_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_df(
        spark, stream, "events_dedup_stream", sf_dir, output_mode="append"
    ).orderBy("user_id", "event_type")


EVENTS_DEDUP_STREAM_SQL = """
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
"""


def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchase<-click attribution
    within 2 h), append mode — the emitted pair set equals the batch
    interval join."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = click_purchase_join_stream(read_events_stream(spark, sf_dir))
    return run_stream_to_df(
        spark, stream, "events_stream_stream_join", sf_dir, output_mode="append"
    ).orderBy("purchase_id", "click_id")


EVENTS_STREAM_STREAM_JOIN_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 HOUR
ORDER BY purchase_id, click_id
"""


def events_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator as a live gate: gap sessionization with
    explicit per-key state (``applyInPandasWithState``,
    streaming/stateful.py) run over the bounded event stream.  Open
    sessions re-emit as later batches extend them, so the consumer
    collapses to final sessions by (user, session_start) keeping the max
    extent — correct under any micro-batching — then rolls up per user.
    The oracle is the batch lag-based sessionization (strict > gap, the
    same rule the stateful kernel walks), making this the strongest
    check available for a hand-rolled stateful operator: stream state
    machine == batch window algebra, hash-for-hash."""
    from ..streaming.stateful import sessionize_with_state

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = sessionize_with_state(read_events_stream(spark, sf_dir))
    observed = run_stream_to_df(
        spark,
        stream,
        "events_stateful_sessions",
        sf_dir,
        output_mode="append",
        # the per-key state machine runs in Python workers; keep enough
        # partitions for worker parallelism (store-commit cost is minor
        # next to the Arrow/Python path here)
        partitions=16,
    )
    sess = observed.groupBy("user_id", "session_start").agg(
        F.max("n_events").alias("n_events")
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("longest_session"),
        )
        .orderBy("user_id")
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000
EVENTS_STATEFUL_SESSIONS_SQL = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
per AS (SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY user_id, sid)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS longest_session
FROM per GROUP BY user_id ORDER BY user_id
"""


def events_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable-sketch maintenance: the HLL register table of
    ``events_hll_distinct`` built as a *streaming aggregation* — registers
    are MAX-merged across micro-batches by the state store, which is the
    whole point of a mergeable sketch in production (each micro-batch
    folds into O(types × m) state; no re-scan, no distinct-set state).
    The estimate extraction is the same batch-side final reduce as the
    batch gate, run over the completed register table; the answer must
    equal the batch sketch exactly, whatever the micro-batching was."""
    from ..functions import hashing
    from .advanced import (
        _HLL_ALPHA_NUM,
        _HLL_M,
        _HLL_P,
        _HLL_RANK_BITS,
        _HLL_RANK_CAP,
        _POW2,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = read_events_stream(spark, sf_dir)
    h = hashing.md5_int(F.col("user_id").cast("string"))
    hashed = ev.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        (F.shiftrightunsigned(h, _HLL_P) % F.lit(1 << _HLL_RANK_BITS)).alias("x"),
    )
    rank = F.when(F.col("x") == 0, F.lit(_HLL_RANK_CAP)).otherwise(
        F.length(F.bin(F.expr("x & -x")))
    )
    regs_stream = (
        hashed.withColumn("rank", rank)
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    regs = run_stream_to_df(spark, regs_stream, "events_hll_stream", sf_dir)
    denom = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(
            F.element_at(F.lit(_POW2), (F.lit(_HLL_RANK_CAP) - F.col("r")) + 1)
        ).alias("occupied"),
    )
    return (
        denom.select(
            "event_type",
            "m_used",
            (
                F.col("occupied")
                + (F.lit(_HLL_M) - F.col("m_used")) * F.lit(_POW2[_HLL_RANK_CAP])
            ).alias("denom_scaled"),
        )
        .withColumn(
            "raw_est",
            F.floor(F.lit(_HLL_ALPHA_NUM) / F.col("denom_scaled").cast("double"))
            .cast("bigint"),
        )
        .orderBy("event_type")
    )


def events_multibatch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE multi-micro-batch streaming gate: the fixture events are
    re-laid-out as 4 files and streamed one file per trigger
    (``file_feed``), so the hourly aggregation is genuinely maintained INCREMENTALLY
    across 4 micro-batches — watermark advancing, state updated per
    batch — not collapsed into the single batch the one-file fixture
    otherwise yields.  The final complete-mode answer must equal the
    batch SQL hash-for-hash whatever the batch boundaries were: the
    strongest statement this harness can make about streaming-state
    correctness (3 batch boundaries prove it as firmly as any larger
    count, at half the trigger overhead of the earlier 8-batch form).
    Layout is written once per (process, fixture)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    agg = hourly_agg_stream(file_feed(spark, _events_split4(spark, sf_dir)))
    return run_stream_to_df(
        spark, agg, "events_multibatch_stream", sf_dir
    ).orderBy("hour", "event_type")


EVENTS_MULTIBATCH_STREAM_SQL = EVENTS_HOURLY_STREAM_SQL


_TREND_TOPK = 3


def events_trending_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending dashboard: watermarked 6-hour tumbling counts
    per event type maintained by the streaming engine, with the top-{k}
    ranking applied batch-side over the completed aggregate — ranking
    is not an incremental-state operator (a rank can change on every
    arrival), so production serves it from the continuously-maintained
    count table exactly like this.  Over bounded input the result must
    equal the batch bucket-count + rank, hash-for-hash."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"), "event_type", "n_events"
        )
    )
    counts = run_stream_to_df(spark, agg, "events_trending_stream", sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TREND_TOPK)
        .orderBy("win_start", "rank")
    )


events_trending_stream.__doc__ = (events_trending_stream.__doc__ or "").format(
    k=_TREND_TOPK
)


EVENTS_TRENDING_STREAM_SQL = f"""
WITH counts AS (
  SELECT make_timestamp((epoch_ms(ts) // 21600000) * 21600000 * 1000)
           AS win_start,
         event_type, COUNT(*) AS n_events
  FROM events
  GROUP BY win_start, event_type)
SELECT win_start, event_type, n_events,
       CAST(ROW_NUMBER() OVER (PARTITION BY win_start
                               ORDER BY n_events DESC, event_type)
            AS INTEGER) AS rank
FROM counts
QUALIFY rank <= {_TREND_TOPK}
ORDER BY win_start, rank
"""


def _hll_stream_sql() -> str:
    from ..functions import hashing
    from .advanced import _HLL_ALPHA_NUM, _HLL_M, _HLL_RANK_BITS, _HLL_RANK_CAP

    return f"""
WITH hashed AS (
  SELECT event_type, user_id,
         {hashing.md5_int_sql('CAST(user_id AS VARCHAR)')} % {_HLL_M} AS bucket,
         ({hashing.md5_int_sql('CAST(user_id AS VARCHAR)')} // {_HLL_M})
           % {1 << _HLL_RANK_BITS} AS x
  FROM events),
regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN x = 0 THEN {_HLL_RANK_CAP}
                  ELSE length(bin(x & -x)) END) AS r
  FROM hashed GROUP BY event_type, bucket),
denom AS (
  SELECT event_type, COUNT(*) AS m_used,
         CAST(SUM(1::BIGINT << ({_HLL_RANK_CAP} - r)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_RANK_CAP})
           AS denom_scaled
  FROM regs GROUP BY event_type)
SELECT event_type, m_used, denom_scaled,
       CAST(floor({_HLL_ALPHA_NUM!r} / CAST(denom_scaled AS DOUBLE)) AS BIGINT)
         AS raw_est
FROM denom
ORDER BY event_type
"""


EVENTS_HLL_STREAM_SQL = _hll_stream_sql()


def _layout4(spark: SparkSession, sf_dir: str, tag: str, table: str,
             where=None, cols=("*",)) -> str:
    """``table``'s rows passing ``where`` written as 4 arbitrary parquet
    files, so ``file_feed`` streams them as 4 real micro-batches; written
    once per (process, fixture)."""
    import os

    from ..catalog import load_table
    from .advanced import _scratch_path

    path = _scratch_path(tag, sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = load_table(spark, sf_dir, table)
        if where is not None:
            df = df.filter(where)
        df.select(*cols).repartition(4).write.mode("overwrite").parquet(path)
    return path


def _events_split4(spark: SparkSession, sf_dir: str) -> str:
    """The fixture events split 4 ways (events_multibatch_stream,
    events_cdc_stream)."""
    return _layout4(spark, sf_dir, "events_split4", "events")


def _docs_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incoming crawl (doc_id >= split) as a 4-batch file feed."""
    from .extensions import _INCR_SPLIT

    return file_feed(spark, _layout4(
        spark, sf_dir, "docs_incoming4", "documents",
        F.col("doc_id") >= _INCR_SPLIT, ("doc_id", "text", "source")))


def _emb_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incoming vector slice (vec_id >= split) as a 4-batch file
    feed."""
    return file_feed(spark, _layout4(
        spark, sf_dir, "emb_incoming4", "embeddings",
        F.col("vec_id") >= _EMB_SPLIT, ("vec_id", "embedding")))


def _timeordered_week_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write the fixture events as four single-file time-quartile slices whose
    file MODIFICATION TIMES increase with event time — Spark's file
    stream source orders new files by (mtime, path), so streaming this
    layout one file per trigger (``file_feed``) delivers micro-batches in event
    time order, modeling the per-key-ordered changelog a Kafka/CDC feed
    guarantees.  (A plain repartitionByRange write does NOT stream in
    range order — measured: batches arrived 2,3,0,1 — hence the explicit
    per-slice writes.)  Built once per (process, fixture)."""
    import glob
    import os
    import shutil
    import time as _time

    from ..catalog import load_table
    from .advanced import _scratch_path

    layout = _scratch_path("events_weeks4", sf_dir)
    if os.path.exists(os.path.join(layout, "_SUCCESS")):
        return layout
    shutil.rmtree(layout, ignore_errors=True)
    os.makedirs(layout)
    ev = load_table(spark, sf_dir, "events")
    # slice boundaries derived from the data (one cheap agg), so no event
    # can fall outside the covered range whatever the fixture's window
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cuts = [lo + (hi + 1 - lo) * i // 4 for i in range(4)] + [hi + 1]
    base = _time.time()
    us = F.unix_micros(F.col("ts"))
    for i in range(4):
        sl = (
            ev.filter((us >= cuts[i]) & (us < cuts[i + 1]))
            .coalesce(1)
            .sortWithinPartitions("ts", "event_id")
        )
        stage = f"{layout}.stage"
        sl.write.mode("overwrite").parquet(stage)
        dst = os.path.join(layout, f"week{i}.parquet")
        shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(f"{layout}.stage", ignore_errors=True)
    open(os.path.join(layout, "_SUCCESS"), "w").close()
    return layout


def events_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: the incremental-materialized-view form
    of ``events_scd2_history``.  The change feed streams in event-time
    order (4 time-quartile files, ``file_feed`` — see
    ``_timeordered_week_layout``) and ``foreachBatch`` maintains TWO
    localCheckpointed state tables: per-(user, type) closed-version
    aggregates (version count, closed dwell) and the per-user OPEN
    version.  Each batch closes the previously-open version at the
    batch's first event for that user (attributing the cross-boundary
    dwell to the open version's type), folds the batch's internal
    versions in with one key-partitioned ``lead`` window, and installs
    the batch's last event as the new open version.  Batch-boundary
    monotonicity is asserted per batch, and the final read-side join of
    the two tables must equal the batch SCD2 derivation hash-for-hash —
    proving the interval bookkeeping survives real incremental
    maintenance, not just a one-shot window.

    At 100 TB: per batch this is one window over the batch plus
    key-joins against |keys|-row state; nothing retained grows with
    stream length (the deployed form of a continuously-maintained
    dimension-history table)."""
    from ..streaming.maintenance import scd2_finalize, scd2_fold

    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def maintain() -> tuple[tuple, int]:
        feed = file_feed(spark, _timeordered_week_layout(spark, sf_dir))
        return run_fold(spark, "events_scd2_stream", feed, scd2_fold(spark))

    state, _ = memo(spark, ("stream", "events_scd2_stream", sf_dir), maintain)
    return scd2_finalize(state[0], state[1])


# oracle: identical derivation to the batch SCD2 gate — the stream's
# incrementally-maintained tables must reproduce it exactly
EVENTS_SCD2_STREAM_SQL = """
WITH versions AS (
  SELECT user_id, event_type AS state_type,
         epoch_us(ts) AS valid_from_us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to_us
  FROM events)
SELECT user_id, state_type,
       COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open,
       CAST(SUM(COALESCE(valid_to_us - valid_from_us, 0)) AS BIGINT)
         AS closed_dwell_us
FROM versions
GROUP BY user_id, state_type
ORDER BY user_id, state_type
"""




def events_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert maintenance (the lakehouse streaming-MERGE
    shape): the post-cutoff change feed arrives as a REAL multi-batch
    stream (4-file layout, ``file_feed``) and ``foreachBatch``
    merges each micro-batch into a persistent state table — compact the
    batch to latest-per-key, union with current state, re-reduce with one
    ``max(struct(ts, event_id, …))`` hash aggregate.  That reducer is
    associative, so the maintained table is provably independent of batch
    boundaries and must equal the batch CDC merge (events_cdc_merge minus
    the per-merge action labels) hash-for-hash, which is what the oracle
    checks.  Tombstones stay IN state (a newer non-tombstone change must
    be able to resurrect the key) and are filtered at read time, flagged
    by feed provenance so a snapshot row whose own latest type collides
    with the tombstone marker is never dropped.

    At 100 TB: state is |keys| rows, each micro-batch costs one map-side
    combine over the batch plus one co-partitioned merge of |keys|;
    ``localCheckpoint`` truncates the lineage so the plan does not grow
    with stream length (production would target a keyed table format's
    MERGE with the same compact-then-merge shape)."""
    from ..catalog import load_table
    from .extensions import (
        _CDC_CUTOFF,
        _CDC_QUIET_MOD,
        _CDC_QUIET_REM,
        _CDC_TOMBSTONE,
        _CDC_UNSNAPPED_MOD,
    )

    from ..streaming.maintenance import cdc_finalize, cdc_fold

    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def maintain() -> tuple[DataFrame, int]:
        cut = F.lit(_CDC_CUTOFF).cast("timestamp")
        # base snapshot: pre-cutoff events of the snapshotted keys
        ev = load_table(spark, sf_dir, "events")
        snap = ev.filter(
            (F.col("ts") < cut) & (F.col("user_id") % _CDC_UNSNAPPED_MOD != 0)
        )
        # the same 4-file layout events_multibatch_stream proves batch
        # boundaries with
        feed = file_feed(spark, _events_split4(spark, sf_dir)).filter(
            (F.col("ts") >= cut)
            & (F.col("user_id") % _CDC_QUIET_MOD != _CDC_QUIET_REM)
        )
        return run_fold(spark, "events_cdc_stream", feed, cdc_fold(snap))

    state = memo(spark, ("stream", "events_cdc_stream", sf_dir), maintain)
    return cdc_finalize(state[0], _CDC_TOMBSTONE)


def _cdc_stream_oracle() -> str:
    from .extensions import (
        _CDC_CUTOFF,
        _CDC_QUIET_MOD,
        _CDC_QUIET_REM,
        _CDC_TOMBSTONE,
        _CDC_UNSNAPPED_MOD,
    )

    return f"""
WITH b AS (
  SELECT user_id, value AS base_value, ts AS base_ts, event_type AS base_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{_CDC_CUTOFF}'
          AND user_id % {_CDC_UNSNAPPED_MOD} <> 0)
  WHERE rn = 1),
c AS (
  SELECT user_id, value AS chg_value, ts AS chg_ts, event_type AS chg_type
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}'
          AND user_id % {_CDC_QUIET_MOD} <> {_CDC_QUIET_REM})
  WHERE rn = 1)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       CASE WHEN c.user_id IS NULL THEN b.base_value ELSE c.chg_value END
         AS state_value,
       CASE WHEN c.user_id IS NULL THEN b.base_ts ELSE c.chg_ts END
         AS state_ts,
       CASE WHEN c.user_id IS NULL THEN b.base_type ELSE c.chg_type END
         AS state_type
FROM b FULL OUTER JOIN c ON b.user_id = c.user_id
WHERE NOT (c.user_id IS NOT NULL AND c.chg_type = '{_CDC_TOMBSTONE}')
ORDER BY user_id
"""


EVENTS_CDC_STREAM_SQL = _cdc_stream_oracle()




def docs_dedup_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ADMISSION — the continuously-ingesting-corpus
    path the batch dedup family lacks: newly crawled documents arrive as
    a real multi-batch stream (4-file layout, ``file_feed``)
    and ``foreachBatch`` probes each micro-batch against the corpus's
    prebuilt, corpus-capped LSH bucket index
    (``dedup_incremental_lsh``'s session-cached index), appending the
    per-doc admission verdicts to a maintained table.  Verdicts depend
    only on (doc, index) — the cap is on corpus occupancy, so the table
    is provably independent of how the crawl is cut into batches
    (hypothesis-tested in tests/test_maintenance_algebra.py) and must
    equal the batch admission query hash-for-hash, which is what the
    oracle checks.

    At 100 TB: the index is built once and shared (here: session-cached
    + localCheckpoint); each micro-batch costs hashing the batch plus
    one (band, bkey) semi-join against the index — the corpus is never
    reshuffled per batch, which is what lets admission run continuously
    at crawl scale."""
    from ..streaming.maintenance import admission_fold
    from .extensions import _corpus_index_cells, _lsh_buckets_raw

    def maintain() -> tuple[DataFrame, int]:
        corpus_cells = _corpus_index_cells(
            _lsh_buckets_raw(spark, sf_dir)
        ).localCheckpoint()
        verdicts, n = run_fold(spark, "docs_dedup_ingest_stream",
                               _docs_feed(spark, sf_dir),
                               admission_fold(corpus_cells))
        return verdicts.localCheckpoint(), n

    state = memo(spark, ("stream", "docs_dedup_ingest_stream", sf_dir),
                 maintain)
    return state[0].orderBy("doc_id")


def dedup_persisted_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``docs_dedup_ingest_stream`` with the crawl state moved to STORAGE —
    the full durable admission loop: the corpus's LSH bucket MEMBERSHIP
    (doc_id, band, bkey) is persisted band-partitioned with a fingerprint
    manifest (``operators/artifact_io.py``); each incoming micro-batch is
    hashed, admitted, its VERDICTS appended to a ``verdicts/`` parquet
    table, and the ADMITTED docs' membership appended into the index's
    band directories — so the stored index reflects the post-crawl corpus
    for the next build cycle; ``ingested`` is marked in the manifest only
    after the stream completes, so a killed ingest rebuilds instead of
    serving half-appended state.  A fresh session serves the verdict table
    (and the grown index) from the artifacts alone, with hashing AND
    streaming forcibly disabled (``tests/test_lsh_index.py``).

    The ADMISSION CONTRACT matches ``dedup_incremental_lsh`` exactly:
    verdicts score against the corpus-capped cells only, so they are
    provably independent of how the crawl is cut into batches and share
    the batch gate's oracle — durability changes the state's lifetime,
    not its answers.  At 100 TB: per batch, hash + one semi-join whose
    build side is the (tiny) cell table + two cell-keyed parquet appends;
    the corpus is never rehashed or reshuffled."""
    from ..operators import artifact_io as aio
    from ..operators import lsh_index as li
    from ..catalog import load_table
    from ..streaming.maintenance import admit_batch, nonempty_appends
    from ..streaming.runner import run_foreach_batch
    from .extensions import _INCR_SPLIT, _LSH_MAX_BUCKET, _corpus_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    path = li.lsh_index_path(sf_dir) + "_ingest"
    verd_dir = aio.table_path(path, "verdicts")
    cells_dir = aio.table_path(path, "cells")
    fp = _corpus_fingerprint(spark, sf_dir, "documents")
    params = {"variant": "ingest", "bands": dedup.MH_BANDS,
              "rows": dedup.MH_ROWS, "split": _INCR_SPLIT}
    if not aio.is_current(spark, path, li.FORMAT_VERSION, fp,
                          {**params, "ingested": True}):
        aio.delete(path, recursive=True, spark=spark)
        membership = dedup.lsh_buckets(
            docs.filter(F.col("doc_id") < _INCR_SPLIT)
        ).select("doc_id", "band", "bkey",
                 F.lit(False).alias("from_stream"))
        li.write_lsh_index(membership, path, fp, params)
        # the admission index: corpus-capped cells DERIVED FROM THE STORED
        # membership (what a fresh build job would read back), shared by
        # every micro-batch
        corpus_cells = (
            aio.load(spark, path, "cells")
            .filter(~F.col("from_stream"))
            .groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= _LSH_MAX_BUCKET)
            .select("band", "bkey")
            .persist()
        )
        # verdicts table seeded EMPTY so an empty incoming slice still
        # leaves a readable (zero-row) parquet table
        spark.createDataFrame(
            [], "doc_id bigint, n_hit_buckets bigint, kept boolean"
        ).write.mode("overwrite").parquet(verd_dir)

        def write_batch(batch_df: DataFrame) -> None:
            bb = dedup.lsh_buckets(batch_df)
            v = admit_batch(bb, batch_df.select("doc_id"), corpus_cells)
            v.write.mode("append").parquet(verd_dir)
            (
                bb.join(v.filter(F.col("kept")).select("doc_id"), "doc_id")
                .select("doc_id", "band", "bkey",
                        F.lit(True).alias("from_stream"))
                .write.mode("append").partitionBy("band").parquet(cells_dir)
            )

        run_foreach_batch(spark, _docs_feed(spark, sf_dir),
                          nonempty_appends(write_batch),
                          "dedup_persisted_ingest_stream")
        corpus_cells.unpersist()
        aio.update_manifest(path, spark=spark, ingested=True)  # LAST

    # serve session: the verdict table from the artifacts alone
    return (
        aio.load(spark, path, "verdicts")
        .select(
            "doc_id",
            F.col("n_hit_buckets").cast("bigint").alias("n_hit_buckets"),
            "kept",
        )
        .orderBy("doc_id")
    )


def dedup_persisted_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE for the durable admission index — the maintenance job the
    streamed appends make necessary: every ``dedup_persisted_ingest_stream``
    micro-batch leaves one small parquet file per touched band directory
    PLUS one verdict file, and after enough crawl cycles the scans pay
    per-file open/footer/scheduling cost plus driver listing.  This gate
    bin-packs BOTH streamed artifacts: the membership table into ~one
    file per band (``repartition`` on the partition column — partition
    count derived from the row count — + ``maxRecordsPerFile``),
    PRESERVING the band partitioning so probe pruning still works, and
    the unpartitioned verdicts table via a narrow coalesce.  Incremental
    OPTIMIZE semantics (``maintenance.optimize``): each source file count
    is recorded in the manifest AFTER its rewrite, so an unchanged layout
    skips the job and a killed compaction re-runs.  The gate then proves the rewrite by
    SERVING from the compacted layout: admission verdicts for the
    incoming batch against the corpus-capped cells, identical to
    ``dedup_incremental_lsh`` (same oracle) — compaction changed the file
    layout, never the answers.  ``tests/test_lsh_index.py`` additionally
    asserts both file counts drop, partition pruning holds on the
    compacted directory, the compacted verdicts are row-identical, and
    the unchanged-layout skip.

    At 100 TB this is the nightly OPTIMIZE every streaming-ingest table
    needs; with Delta/Iceberg the same plan runs under their OPTIMIZE
    entry points."""
    from ..operators import artifact_io as aio
    from ..operators import lsh_index as li
    from ..catalog import load_table
    from ..operators.maintenance import optimize
    from ..streaming.maintenance import admit_batch
    from .extensions import _INCR_SPLIT, _LSH_MAX_BUCKET

    # ensure the streamed index exists (idempotent, manifest-gated)
    dedup_persisted_ingest_stream(spark, sf_dir)
    path = li.lsh_index_path(sf_dir) + "_ingest"
    optimize(spark, path, "cells", "compact_src_files", "band")
    optimize(spark, path, "verdicts", "compact_src_verdict_files")
    # serve FROM THE COMPACTED LAYOUT: corpus-capped admission, the same
    # contract (and oracle) as the live index
    corpus_cells = (
        aio.load(spark, path, "cells_compact")
        .filter(~F.col("from_stream"))
        .groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") <= _LSH_MAX_BUCKET)
        .select("band", "bkey")
    )
    docs = load_table(spark, sf_dir, "documents")
    incoming = kernel_front(docs, "text").filter(
        F.col("doc_id") >= _INCR_SPLIT
    )
    return admit_batch(
        dedup.lsh_buckets(incoming), incoming.select("doc_id"), corpus_cells
    ).orderBy("doc_id")



_EMB_SPLIT = 400     # vec_id >= split streams in; rest is the indexed corpus
_ING_IVF_K = 64      # deployed-index cell count for the ingest monitoring gate
                     # (own constant: extensions._IVF_K is the trained search
                     # index and may retune independently of this artifact)
_EMB_DRIFT_TH = 0.12   # per-dim |cell mean - centroid| flagged as shifted
_EMB_DRIFT_DIMS = 16   # cell drift trigger: more than this many shifted dims


def _emb_corpus_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The deployed IVF index: the 64 CORPUS vectors (vec_id < split)
    with smallest md5(vec_id) — the seed recipe ann_ivf_topk's trained
    index starts from (the monitoring gate keeps raw seeds: its oracle
    contract predates the round-11 training and its alarm thresholds
    were tuned against these cells),
    restricted to the corpus so the index is a static artifact while the
    stream runs.  Bounded driver collect (64 rows)."""
    from ..catalog import load_table
    from ..operators.clustering import md5_seeds

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _EMB_SPLIT
    )
    return md5_seeds(emb, _ING_IVF_K)


def embeddings_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VECTOR ingest against the deployed ANN index — the
    continuously-ingesting-corpus path for the embedding side, completing
    what docs_dedup_ingest_stream does for text: newly embedded vectors
    arrive as a real multi-batch stream (4-file layout,
    ``file_feed``) and ``foreachBatch`` assigns each
    micro-batch to the session's fixed IVF centroids (the corpus-built
    index), folding per-(cell, dim) occupancy counts and exact quantized
    sums into a maintained table.  Sums and counts are associative, so
    the maintained occupancy is provably independent of batch boundaries
    and order (hypothesis-tested in tests/test_maintenance_algebra.py).
    The gate then reads the maintained table once and reports the
    monitoring rollup a production vector pipeline alarms on: per cell,
    how many incoming vectors landed there, how many dimensions of the
    incoming-cohort mean have shifted past the threshold from the
    centroid, and the drift trigger — the re-train/re-cluster alarm for
    cells whose incoming population no longer looks like the centroid.

    At 100 TB: the centroid set is the static artifact (fixed k=64,
    broadcast); each micro-batch costs one vectorized assignment kernel
    + one posexplode map-side combined to ≤ |cells|·|dims| rows — the
    corpus is never reshuffled, the state is O(k·d) however long the
    stream runs, and the finalize joins the state against a 64-row
    literal centroid table."""
    from ..streaming.maintenance import ivf_fold

    def maintain() -> tuple[DataFrame, int, list]:
        centroids = _emb_corpus_centroids(spark, sf_dir)
        return (*run_fold(spark, "embeddings_ingest_stream",
                          _emb_feed(spark, sf_dir), ivf_fold(centroids)),
                centroids)

    key = ("stream", "embeddings_ingest_stream", sf_dir)
    occ, _, centroids = memo(spark, key, maintain)
    return _drift_rollup(spark, occ, centroids).orderBy("cell")


def _drift_rollup(spark: SparkSession, occ: DataFrame,
                  centroids: list) -> DataFrame:
    """Per-cell drift verdicts from a maintained per-(cell, dim)
    occupancy table vs the deployed centroid set — the alarm rollup
    shared by the streaming monitoring gate and the batch retrain gate,
    so the alarm that TRIGGERS a retrain is provably the one the monitor
    reports."""
    from ..inline import inline_table

    cent_df = inline_table(
        spark,
        [(cid, vec) for cid, vec in centroids],
        "cell bigint, ce array<double>",
    )
    mean = F.col("sumq").cast("double") / F.lit(100000000.0) / F.col("n")
    shifted = (
        F.abs(mean - F.element_at(F.col("ce"), F.col("dim") + 1))
        > F.lit(_EMB_DRIFT_TH)
    )
    return (
        occ.join(F.broadcast(cent_df), "cell")
        .select("cell", F.col("n"), shifted.cast("int").alias("dd"))
        .groupBy("cell")
        .agg(
            F.max("n").cast("bigint").alias("n_vecs"),
            F.sum("dd").cast("int").alias("n_drifted_dims"),
        )
        .withColumn("drifted", F.col("n_drifted_dims") > F.lit(_EMB_DRIFT_DIMS))
    )


def _emb_ingest_oracle() -> str:
    from .extensions import _l2q_sql

    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  WHERE vec_id < {_EMB_SPLIT}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_ING_IVF_K}),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_l2q_sql('e.embedding', 'c.ce')},
                                       c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id >= {_EMB_SPLIT}) WHERE rn = 1),
ex AS (
  SELECT cell, unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM assigned),
perdim AS (
  SELECT cell, dim,
         SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000.0)
                  AS DECIMAL(38,0))) AS sumq,
         COUNT(*) AS n
  FROM ex GROUP BY cell, dim),
d AS (
  SELECT p.cell, p.n,
         CASE WHEN abs(CAST(p.sumq AS DOUBLE) / 100000000.0 / p.n
                       - CAST(c.ce[p.dim + 1] AS DOUBLE))
                   > {_EMB_DRIFT_TH} THEN 1 ELSE 0 END AS dd
  FROM perdim p JOIN cent c ON p.cell = c.cid)
SELECT cell, CAST(MAX(n) AS BIGINT) AS n_vecs,
       CAST(SUM(dd) AS INTEGER) AS n_drifted_dims,
       SUM(dd) > {_EMB_DRIFT_DIMS} AS drifted
FROM d GROUP BY cell
ORDER BY cell
"""


EMBEDDINGS_INGEST_STREAM_SQL = _emb_ingest_oracle()


# ------------------------------------ drift alarm -> retrain -> index swap

def _drift_base_path(sf_dir: str) -> str:
    from ..operators import ann_index as ai

    return ai.index_path(sf_dir) + "_deploy"


def _drift_alias_path(base: str) -> str:
    from ..operators import artifact_io as aio

    return aio.table_path(base, "active.json")


def _drift_v1_params() -> dict:
    return {"tier": "deploy-v1", "k": _ING_IVF_K}


def _drift_v2_params() -> dict:
    from .extensions import _IVF_ITERS, _IVF_K

    return {"tier": "deploy-v2", "ivf_k": _IVF_K, "ivf_iters": _IVF_ITERS}


def _flip_alias(spark: SparkSession, base: str, version: str,
                fingerprint: str) -> None:
    """The atomic deployment switch: one small-file overwrite, written
    LAST — everything the new index needs is already on storage, so a
    kill anywhere before this line leaves the OLD index active."""
    import json

    from ..operators import artifact_io

    artifact_io.write_text(
        _drift_alias_path(base),
        json.dumps({"active": version, "fingerprint": fingerprint},
                   sort_keys=True) + "\n",
        spark=spark,
    )


def _drift_active_version(spark: SparkSession, base: str,
                          fingerprint: str) -> str:
    """Which index generation serves: the alias target, honored only if
    that generation's manifest is current for this corpus — a half-swapped
    or stale alias falls back to v1 (and v1's own currency is the
    caller's rebuild check)."""
    import json

    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio

    text = aio.read_text(_drift_alias_path(base), spark=spark)
    if text is None:
        return "v1"
    try:
        alias = json.loads(text)
    except ValueError:
        return "v1"
    version = alias.get("active")
    if version != "v2" or alias.get("fingerprint") != fingerprint:
        return "v1"
    if not aio.is_current(spark, base + "/v2", ai.FORMAT_VERSION,
                          fingerprint, _drift_v2_params()):
        return "v1"
    return "v2"


def _drift_serve_active(spark: SparkSession, sf_dir: str,
                        fp: str) -> tuple[str, DataFrame]:
    """Serve-only path: read the alias, serve that generation — no drift
    check, no training, no swap.  Returns (version, top-k frame).  The
    retrain gate's own serve step, and what the kill-mid-swap test calls
    to prove the old index still serves."""
    from .extensions import _serve_persisted_ivf_topk

    base = _drift_base_path(sf_dir)
    version = _drift_active_version(spark, base, fp)
    return version, _serve_persisted_ivf_topk(spark, sf_dir, base + "/" + version)


def embeddings_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift alarm CLOSED into a control loop — round 13 maintained
    the per-cell drift trigger (``embeddings_ingest_stream``) but nothing
    consumed it; this gate is the consumer: detect drift against the
    DEPLOYED persisted index, re-train centroids, build the replacement
    index in its own directory, swap via one alias flip written LAST, and
    serve from whatever the alias says is active.

    Lifecycle (every step idempotent, every kill-window rebuildable):

    1. **v1 (deployed)**: the raw-seed corpus index
       (``_emb_corpus_centroids``, the same artifact the monitoring gate
       alarms against) persisted under ``<base>/v1`` with the standard
       manifest discipline.
    2. **Detect**: one batch pass of the incoming slice through the SAME
       per-(cell, dim) occupancy kernel the monitor streams
       (``ivf_ingest_batch``) and the SAME rollup (``_drift_rollup``) —
       the alarm that fires here is provably the monitor's alarm.
    3. **Retrain + swap**: if any cell drifted, train the replacement
       (``_ivf_trained_centroids``: md5 seeds + exact Lloyd — the
       production index build) over the FULL corpus, write it under
       ``<base>/v2`` (manifest LAST), then flip ``active.json`` — the
       swap is one small-file overwrite AFTER all artifacts land, so a
       kill mid-swap leaves v1 serving (``tests/test_drift_retrain.py``
       kills the flip and proves it).
    4. **Serve**: from the alias target.  Output rows carry
       ``n_drifted_cells`` and ``index_version`` so the oracle verifies
       the DECISION as well as the post-swap ranking.

    At 100 TB: detection is one narrow kernel pass over the incoming
    slice folded to O(k·d) rows; retraining is the standard bounded-
    driver Lloyd loop; the swap moves no data — generations are
    directories, deployment is a manifest.  The serve scan stays
    statically partition-pruned to the probed cells of the ACTIVE
    generation."""
    from ..catalog import load_table
    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio
    from ..streaming.maintenance import ivf_ingest_batch
    from .extensions import _corpus_fingerprint, _ivf_trained_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    fp = _corpus_fingerprint(spark, sf_dir, "embeddings")
    base = _drift_base_path(sf_dir)
    v1_path = base + "/v1"
    if not aio.is_current(spark, v1_path, ai.FORMAT_VERSION, fp,
                          _drift_v1_params()):
        corpus = emb.filter(F.col("vec_id") < _EMB_SPLIT)
        ai.write_index(
            corpus, _emb_corpus_centroids(spark, sf_dir), v1_path, fp,
            _drift_v1_params(),
        )
    cents1 = ai.load_centroids(spark, v1_path)
    incoming = emb.filter(F.col("vec_id") >= _EMB_SPLIT).select(
        "vec_id", "embedding"
    )
    occ = ivf_ingest_batch(incoming, cents1)
    report = _drift_rollup(spark, occ, cents1)
    n_drifted = report.filter(F.col("drifted")).count()  # bounded: <= k rows
    if n_drifted > 0:
        v2_path = base + "/v2"
        if not aio.is_current(spark, v2_path, ai.FORMAT_VERSION, fp,
                              _drift_v2_params()):
            ai.write_index(
                emb, _ivf_trained_centroids(spark, sf_dir), v2_path, fp,
                _drift_v2_params(),
            )
        # a warm serve finds v2 already active and writes nothing
        if _drift_active_version(spark, base, fp) != "v2":
            _flip_alias(spark, base, "v2", fp)
    version, serve = _drift_serve_active(spark, sf_dir, fp)
    return (
        serve
        .withColumn("n_drifted_cells", F.lit(int(n_drifted)).cast("int"))
        .withColumn(
            "index_version",
            F.lit(2 if version == "v2" else 1).cast("int"),
        )
        .orderBy("query_id", "rank")
    )


def _drift_retrain_oracle() -> str:
    """Closed-form replay: the drift decision (raw-seed deployed index vs
    the incoming slice) AND the post-swap serve — the trained-IVF chain
    when any cell drifted, the v1 raw-seed serve when none did."""
    from ..functions import vectors
    from ..operators.similarity import query_rank_sql
    from .extensions import (
        _TOPK,
        _ivf_cent_ctes,
        _ivf_probe_ctes,
        _l2q_sql,
    )

    cos = vectors.cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH {_ivf_cent_ctes()},
{_ivf_probe_ctes()},
drcent AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  WHERE vec_id < {_EMB_SPLIT}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_ING_IVF_K}),
drassigned AS MATERIALIZED (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_l2q_sql('e.embedding', 'c.ce')},
                                       c.cid) AS rn
    FROM embeddings e CROSS JOIN drcent c
    WHERE e.vec_id >= {_EMB_SPLIT}) WHERE rn = 1),
drex AS (
  SELECT cell, unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM drassigned),
drperdim AS (
  SELECT cell, dim,
         SUM(CAST(floor(CAST(v AS DOUBLE) * 100000000.0)
                  AS DECIMAL(38,0))) AS sumq,
         COUNT(*) AS n
  FROM drex GROUP BY cell, dim),
drrep AS (
  SELECT cell,
         SUM(CASE WHEN abs(CAST(p.sumq AS DOUBLE) / 100000000.0 / p.n
                           - CAST(c.ce[p.dim + 1] AS DOUBLE))
                       > {_EMB_DRIFT_TH} THEN 1 ELSE 0 END) AS nd
  FROM drperdim p JOIN drcent c ON p.cell = c.cid
  GROUP BY cell),
drflag AS (
  SELECT COUNT(*) FILTER (WHERE nd > {_EMB_DRIFT_DIMS}) AS n_drifted
  FROM drrep),
v2scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {cos} AS cos_sim
  FROM qprobe q JOIN assigned c ON c.cell = q.cid AND q.vec_id <> c.vec_id),
v2ranked AS ({query_rank_sql('v2scored', 'cos_sim DESC')}),
v1ebase AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_EMB_SPLIT}),
v1cent AS MATERIALIZED (SELECT cid, ce FROM drcent),
{_ivf_probe_ctes(prefix="v1")},
v1scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {cos} AS cos_sim
  FROM v1qprobe q JOIN v1assigned c
    ON c.cell = q.cid AND q.vec_id <> c.vec_id),
v1ranked AS ({query_rank_sql('v1scored', 'cos_sim DESC')})
SELECT query_id, cand_id, cos_sim, CAST(rank AS INTEGER) AS rank,
       CAST((SELECT n_drifted FROM drflag) AS INTEGER) AS n_drifted_cells,
       CAST(CASE WHEN (SELECT n_drifted FROM drflag) > 0 THEN 2 ELSE 1 END
            AS INTEGER) AS index_version
FROM (
  SELECT query_id, cand_id, cos_sim, rank FROM v2ranked
  WHERE (SELECT n_drifted FROM drflag) > 0
  UNION ALL
  SELECT query_id, cand_id, cos_sim, rank FROM v1ranked
  WHERE (SELECT n_drifted FROM drflag) = 0)
WHERE rank <= {_TOPK}
ORDER BY query_id, rank
"""


EMBEDDINGS_DRIFT_RETRAIN_SQL = _drift_retrain_oracle()




def _ingest_trained_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The ingest-serving index build: the trained-centroid recipe of
    ``extensions._ivf_trained_centroids`` (md5-sampled seeds + exact
    Lloyd refinement) restricted to the PRE-STREAM corpus slice — train
    at deploy time, freeze, assign stream rows against the frozen
    artifact.  Freezing is what makes the maintained index provably
    batch-boundary-independent: assignment is row-wise against
    constants, so any partition of the incoming rows yields the same
    index (hypothesis-tested in tests/test_maintenance_algebra.py)."""
    from ..catalog import load_table
    from ..operators.clustering import kmeans_refine, md5_seeds
    from .extensions import _IVF_ITERS, _IVF_K

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _EMB_SPLIT
    )
    seeds = md5_seeds(emb, _IVF_K)
    cents, _ = kmeans_refine(emb, seeds, iters=_IVF_ITERS, exact=True)
    return cents


def ann_ingest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest → search, the loop closed: where
    ``embeddings_ingest_stream`` MONITORS the deployed IVF index (cell
    occupancy + drift), this gate SERVES queries against the post-ingest
    index state.  The incoming vector slice arrives as a real multi-batch
    stream (4-file layout, ``file_feed``); ``foreachBatch``
    assigns each micro-batch to the frozen corpus-trained centroids (the
    same vectorized kernel the batch gates use) and appends it to the
    maintained cell-assigned index table.  The gate then answers the
    standard ``_NQUERY`` queries with the trained-IVF nprobe ladder of
    ``ann_ivf_topk`` over corpus ∪ streamed rows, flagging which ranked
    neighbors arrived via the stream — a freshly ingested vector is
    searchable in the same session, which is the whole point of
    streaming ingest.

    At 100 TB: the frozen centroid set is the static broadcast artifact;
    each micro-batch costs one assignment kernel pass over the batch
    only (the corpus is never reshuffled — appends are cell-keyed), and
    the serve path is the cell-pruned probe join.  The DuckDB oracle
    replays the training CTEs on the corpus slice and assigns
    corpus + stream in one closed form, so a stream that dropped or
    double-ingested a batch hash-fails."""
    from ..catalog import load_table
    from ..streaming.maintenance import ann_index_fold
    from .extensions import _ivf_cos_pairs, _ivf_query_probes, _topk

    def maintain() -> tuple[DataFrame, int, list]:
        centroids = _ingest_trained_centroids(spark, sf_dir)
        corpus = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < _EMB_SPLIT
        )
        return (*run_fold(spark, "ann_ingest_topk", _emb_feed(spark, sf_dir),
                          ann_index_fold(corpus, centroids)),
                centroids)

    idx, _, centroids = memo(spark, ("stream", "ann_ingest_topk", sf_dir),
                             maintain)
    emb = load_table(spark, sf_dir, "embeddings")
    c = idx.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"),
        F.col("cell").alias("ccell"),
    )
    return _from_stream(
        _topk(_ivf_cos_pairs(_ivf_query_probes(emb, centroids), c), "cos_sim")
    )


def _from_stream(topk: DataFrame) -> DataFrame:
    """The ingest gates' top-k with ``from_stream``: whether each ranked
    neighbor arrived through the stream rather than the corpus slice."""
    return topk.select(
        "query_id", "cand_id",
        (F.col("cand_id") >= F.lit(_EMB_SPLIT)).alias("from_stream"),
        "cos_sim", "rank",
    )


def _ann_ingest_oracle() -> str:
    from ..functions import vectors
    from ..operators.similarity import query_topk_sql
    from .extensions import (
        _TOPK,
        _ivf_cent_ctes,
        _ivf_probe_ctes,
    )

    return f"""
WITH {_ivf_cent_ctes(prefix='ig', corpus_where=f'vec_id < {_EMB_SPLIT}')},
{_ivf_probe_ctes(prefix='ig', assign_from='embeddings')}
, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         c.vec_id >= {_EMB_SPLIT} AS from_stream,
         {vectors.cosine_sql('q.embedding', 'c.embedding')} AS cos_sim
  FROM igqprobe q JOIN igassigned c
    ON c.cell = q.cid AND q.vec_id <> c.vec_id),
{query_topk_sql('cos_sim DESC', _TOPK, 'query_id, cand_id, from_stream, cos_sim')}
"""


ANN_INGEST_TOPK_SQL = _ann_ingest_oracle()


def ann_persisted_ingest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production vector-pipeline lifecycle in one gate — build →
    persist → stream-append → durable serve: where ``ann_ingest_topk``
    maintains its post-ingest index in session memory, this gate's index
    LIVES ON DISK.  The build job writes the frozen corpus-trained
    centroids and the cell-partitioned corpus to parquet
    (``operators/ann_index.py``); the incoming slice then streams in and
    ``foreachBatch`` APPENDS each micro-batch, cell-assigned against the
    frozen centroids, as new files inside the same partition directories —
    an append is cell-keyed parquet IO, the corpus is never reshuffled.
    ``ingested=True`` is marked in the manifest only after the stream
    completes, so a killed ingest leaves an unmarked manifest and the next
    run rebuilds instead of serving a half-appended index; a FRESH session
    over the marked index serves corpus ∪ streamed rows with zero training
    and zero re-streaming (``tests/test_ann_index.py`` proves it with both
    forcibly disabled).  Serve reads ONLY the centroid table and the
    probed cells (static partition filter), ranking exactly as
    ``ann_ingest_topk`` — same oracle, so durability provably changed the
    index's lifetime, not its answers."""
    from .extensions import _serve_persisted_ivf_topk

    path = _ensure_ann_ingest_index(spark, sf_dir)
    # serve session: artifacts + probed cells only, no training state
    return _from_stream(_serve_persisted_ivf_topk(spark, sf_dir, path))


def _ensure_ann_ingest_index(spark: SparkSession, sf_dir: str):
    """Build-if-needed for the durable ingest index (manifest-gated);
    returns its path.  Shared by the serve gate and the
    compaction job, so OPTIMIZE never pays a serve-plan probe collect
    just to check the index exists."""
    from ..catalog import load_table
    from ..operators import ann_index as ai
    from ..operators import artifact_io as aio
    from ..operators.similarity import ivf_assign
    from ..streaming.maintenance import nonempty_appends
    from ..streaming.runner import run_foreach_batch
    from .extensions import _corpus_fingerprint

    path = ai.index_path(sf_dir) + "_ingest"
    emb = load_table(spark, sf_dir, "embeddings")
    # fingerprint covers corpus AND incoming slice (both derive from the
    # embeddings table), so either changing invalidates the marked index;
    # session-memoized so plan sweeps pay the collect once
    fp = _corpus_fingerprint(spark, sf_dir, "embeddings")
    params = {"variant": "ingest", "split": _EMB_SPLIT}
    if not aio.is_current(spark, path, ai.FORMAT_VERSION, fp,
                          {**params, "ingested": True}):
        # stale or half-appended — storage-agnostic recursive delete
        aio.delete(path, recursive=True, spark=spark)
        centroids = _ingest_trained_centroids(spark, sf_dir)
        ai.write_index(
            emb.filter(F.col("vec_id") < _EMB_SPLIT), centroids, path, fp,
            params,
        )
        cells_dir = aio.table_path(path, "cells")

        def write_batch(batch_df: DataFrame) -> None:
            (
                ivf_assign(batch_df.select("vec_id", "embedding"), centroids)
                .write.mode("append").partitionBy("cell").parquet(cells_dir)
            )

        run_foreach_batch(spark, _emb_feed(spark, sf_dir),
                          nonempty_appends(write_batch), "ann_persisted_ingest")
        aio.update_manifest(path, spark=spark, ingested=True)  # durability point — LAST
    return path


def ann_persisted_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE for the durable ANN index — the vector-side twin of
    ``dedup_persisted_compact``: every streamed micro-batch appends one
    small parquet file per touched cell directory, and after enough
    ingest cycles the probed-cell scans pay per-file open/footer cost.
    Bin-pack the cell-partitioned corpus ∪ stream into ~one file per cell
    (``repartition`` on the partition column + ``maxRecordsPerFile``),
    preserving the cell partitioning the probe pruning depends on, then
    prove the rewrite by SERVING top-k from the compacted layout —
    ranking identical to ``ann_persisted_ingest_topk`` (same oracle).
    ``tests/test_ann_index.py`` pins the file-count drop and pruning on
    the compacted directory."""
    from ..operators.maintenance import optimize
    from .extensions import _serve_persisted_ivf_topk

    # ensure the streamed index exists (idempotent, manifest-gated) —
    # without building the serve gate's probe plan
    path = _ensure_ann_ingest_index(spark, sf_dir)
    optimize(spark, path, "cells", "compact_src_files", "cell")
    return _from_stream(
        _serve_persisted_ivf_topk(spark, sf_dir, path, "cells_compact")
    )




def docs_token_meter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TOKEN METERING — the ingestion-side counter every
    training-data pipeline runs continuously: newly crawled documents
    stream in (same 4-file incoming layout, ``file_feed``) and
    ``foreachBatch`` costs each micro-batch against the DEPLOYED
    tokenizer table (the session-cached BPE vocab from
    ``_bpe_vocab_tok`` — word → token count under the learned merges,
    with the char-count fallback for out-of-vocabulary words), folding
    per-source (n_docs, n_tokens) totals into a maintained table.  Sums
    are associative, so the totals are provably independent of batch
    boundaries and order (hypothesis-tested) and must equal the batch
    per-source BPE rollup over the incoming slice, which is what the
    oracle checks.

    At 100 TB: the tokenizer table is the static artifact (built once,
    broadcast); each micro-batch costs one explode + one vocab join +
    a |sources|-row aggregate — the corpus never reshuffles, and the
    maintained table is |sources| rows however long the stream runs."""
    from ..streaming.maintenance import meter_fold
    from .curation import _bpe_vocab_tok

    def maintain() -> tuple[DataFrame, int]:
        vocab_tok = _bpe_vocab_tok(spark, sf_dir)  # session-cached
        return run_fold(spark, "docs_token_meter_stream",
                        _docs_feed(spark, sf_dir), meter_fold(vocab_tok))

    state = memo(spark, ("stream", "docs_token_meter_stream", sf_dir),
                 maintain)
    return state[0].orderBy("source")


def _meter_stream_oracle() -> str:
    from .curation import _BPE_DOC_TOKENS_CTES
    from .extensions import _INCR_SPLIT

    return f"""
WITH RECURSIVE
{_BPE_DOC_TOKENS_CTES}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(p.n_tokens, 0)) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN perdoc p USING (doc_id)
WHERE d.doc_id >= {_INCR_SPLIT}
GROUP BY d.source
ORDER BY d.source
"""


DOCS_TOKEN_METER_STREAM_SQL = _meter_stream_oracle()




def _span_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT 60-bit hashes of the CORPUS's positional 8-token grams
    (doc_id < split) — the static span index the streaming admission
    probes; session-cached + checkpointed, built once per (session,
    fixture)."""
    from ..functions import hashing, text
    from .extensions import _INCR_SPLIT, _session_table, _t

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        return (
            docs.filter(F.col("doc_id") < _INCR_SPLIT)
            .select(
                F.explode(
                    text.positional_kgrams(F.col("text"), 8)
                ).alias("gram")
            )
            .select(hashing.md5_int(F.col("gram")).alias("h"))
            .distinct()
        )

    return _session_table(spark, sf_dir, "span_idx", build)


def docs_substring_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT-SUBSTRING admission — the ingest-time form of
    docs_exact_substring_dedup (Lee et al. 2022's ExactSubstr, applied
    the way a live crawl must apply it): newly crawled documents arrive
    as a real multi-batch stream (4-file layout, ``file_feed``)
    and ``foreachBatch`` probes each micro-batch's positional 8-token
    grams against the corpus's prebuilt span index, appending per-doc
    verdicts (span count, recycled-span count, kept iff at most half the
    doc is recycled corpus text — the integer 2·dup ≤ n form, no float
    threshold).  Verdicts depend only on (doc, index), so the maintained
    table is independent of batch boundaries (hypothesis-tested in
    tests/test_maintenance_algebra.py) and must equal the batch
    formulation hash-for-hash, which is what the oracle checks.

    At 100 TB: the span index is the static artifact (built once from
    the corpus, hash-partitioned); each micro-batch costs one gram
    explode + one hash equi-join against the index — the corpus is
    never re-tokenized or reshuffled per batch."""
    from ..streaming.maintenance import span_fold

    def maintain() -> tuple[DataFrame, int]:
        idx = _span_index(spark, sf_dir)  # session-cached, checkpointed
        verdicts, n = run_fold(spark, "docs_substring_ingest_stream",
                               _docs_feed(spark, sf_dir), span_fold(idx))
        return verdicts.localCheckpoint(), n

    state = memo(spark, ("stream", "docs_substring_ingest_stream", sf_dir),
                 maintain)
    return state[0].orderBy("doc_id")


def _substring_ingest_oracle() -> str:
    from ..functions import hashing
    from .extensions import _INCR_SPLIT

    gram = "array_to_string(list_slice(tk, i, i + 7), ' ')"
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents),
g AS (
  SELECT doc_id, {hashing.md5_int_sql(gram)} AS h
  FROM toks, UNNEST(range(1, greatest(len(tk) - 7, 0) + 1)) t(i)),
idx AS (SELECT DISTINCT h FROM g WHERE doc_id < {_INCR_SPLIT}),
inc AS (
  SELECT g.doc_id, CASE WHEN idx.h IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM g LEFT JOIN idx USING (h)
  WHERE g.doc_id >= {_INCR_SPLIT}),
per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(hit) AS BIGINT) AS n_dup_spans
  FROM inc GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       2 * COALESCE(p.n_dup_spans, 0) <= COALESCE(p.n_spans, 0) AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_INCR_SPLIT}) d
LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


DOCS_SUBSTRING_INGEST_STREAM_SQL = _substring_ingest_oracle()


from .extensions import DEDUP_INCREMENTAL_LSH_SQL as _DEDUP_INCR_LSH_SQL  # noqa: E402

# the stream maintains exactly the batch admission table — one oracle text,
# shared so the two can't drift
DOCS_DEDUP_INGEST_STREAM_SQL = _DEDUP_INCR_LSH_SQL


SPECS: list[QuerySpec] = [
    QuerySpec(
        "docs_dedup_ingest_stream",
        docs_dedup_ingest_stream,
        DOCS_DEDUP_INGEST_STREAM_SQL,
        "foreachBatch near-dup admission vs corpus LSH index (== batch)",
    ),
    QuerySpec(
        "dedup_persisted_ingest_stream",
        dedup_persisted_ingest_stream,
        DOCS_DEDUP_INGEST_STREAM_SQL,
        "durable admission loop: persisted LSH membership + appended "
        "verdicts/admitted cells, fresh-session serve from artifacts",
    ),
    QuerySpec(
        "dedup_persisted_compact",
        dedup_persisted_compact,
        DOCS_DEDUP_INGEST_STREAM_SQL,
        "OPTIMIZE the streamed index: bin-pack band dirs, serve unchanged "
        "admission verdicts from the compacted layout",
    ),
    QuerySpec(
        "docs_token_meter_stream",
        docs_token_meter_stream,
        DOCS_TOKEN_METER_STREAM_SQL,
        "foreachBatch per-source token metering vs deployed BPE vocab",
    ),
    QuerySpec(
        "embeddings_ingest_stream",
        embeddings_ingest_stream,
        EMBEDDINGS_INGEST_STREAM_SQL,
        "foreachBatch IVF cell occupancy + drift trigger vs fixed centroids",
    ),
    QuerySpec(
        "embeddings_drift_retrain",
        embeddings_drift_retrain,
        EMBEDDINGS_DRIFT_RETRAIN_SQL,
        "drift alarm -> centroid retrain -> persisted-index swap via "
        "alias flip, serve from the active generation",
    ),
    QuerySpec(
        "docs_substring_ingest_stream",
        docs_substring_ingest_stream,
        DOCS_SUBSTRING_INGEST_STREAM_SQL,
        "foreachBatch ExactSubstr admission vs corpus span index (== batch)",
    ),
    QuerySpec(
        "ann_ingest_topk",
        ann_ingest_topk,
        ANN_INGEST_TOPK_SQL,
        "streamed vectors searchable: IVF top-k over corpus + ingested rows",
    ),
    QuerySpec(
        "ann_persisted_compact",
        ann_persisted_compact,
        ANN_INGEST_TOPK_SQL,
        "OPTIMIZE the streamed ANN index: bin-pack cell dirs, serve "
        "identical top-k from the compacted layout",
    ),
    QuerySpec(
        "ann_persisted_ingest_topk",
        ann_persisted_ingest_topk,
        ANN_INGEST_TOPK_SQL,
        "durable ingest: stream-appended parquet index, fresh-session serve "
        "over corpus + streamed rows",
    ),
    QuerySpec(
        "events_cdc_stream",
        events_cdc_stream,
        EVENTS_CDC_STREAM_SQL,
        "foreachBatch streaming MERGE upsert state == batch CDC merge",
    ),
    QuerySpec(
        "events_scd2_stream",
        events_scd2_stream,
        EVENTS_SCD2_STREAM_SQL,
        "foreachBatch incremental SCD2 interval maintenance == batch SCD2",
    ),
    QuerySpec(
        "events_hourly_stream",
        events_hourly_stream,
        EVENTS_HOURLY_STREAM_SQL,
        "streaming watermarked tumbling-window agg (AvailableNow == batch)",
    ),
    QuerySpec(
        "events_session_stream",
        events_session_stream,
        EVENTS_SESSION_STREAM_SQL,
        "streaming session_window sessionization (AvailableNow == batch)",
    ),
    QuerySpec(
        "events_enriched_stream",
        events_enriched_stream,
        EVENTS_ENRICHED_STREAM_SQL,
        "stream-static broadcast enrichment join + agg (== batch)",
    ),
    QuerySpec(
        "events_sliding_stream",
        events_sliding_stream,
        EVENTS_SLIDING_STREAM_SQL,
        "streaming sliding/hopping window agg (AvailableNow == batch)",
    ),
    QuerySpec(
        "events_dedup_stream",
        events_dedup_stream,
        EVENTS_DEDUP_STREAM_SQL,
        "streaming dropDuplicates key dedup (append mode == batch DISTINCT)",
    ),
    QuerySpec(
        "events_stream_stream_join",
        events_stream_stream_join,
        EVENTS_STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream interval join (== batch interval join)",
    ),
    QuerySpec(
        "events_stateful_sessions",
        events_stateful_sessions,
        EVENTS_STATEFUL_SESSIONS_SQL,
        "applyInPandasWithState gap sessionization (== batch lag windows)",
    ),
    QuerySpec(
        "events_hll_stream",
        events_hll_stream,
        EVENTS_HLL_STREAM_SQL,
        "streaming HLL register maintenance (MAX-merged state == batch)",
    ),
    QuerySpec(
        "events_trending_stream",
        events_trending_stream,
        EVENTS_TRENDING_STREAM_SQL,
        "streaming 6h counts + batch-side trending top-k (== batch)",
    ),
    QuerySpec(
        "events_multibatch_stream",
        events_multibatch_stream,
        EVENTS_MULTIBATCH_STREAM_SQL,
        "4 forced micro-batches (one file per trigger) == batch answer",
    ),
]
