"""Structured Streaming surface (north-star extension; SURVEY.md §2.9).

The reference is batch-only by construction — its only source is eager
in-memory generation (`/root/reference/src/lib.rs:113-126`).  This package
adds the stream-shaped capabilities a training-data pipeline needs, expressed
as Structured Streaming plans over the same `events` table the batch
queries use, so every streaming query is *oracle-checkable*: run with the
`availableNow` trigger over the fixture parquet, it must produce exactly the
batch answer.
"""

from .pipeline import (  # noqa: F401
    click_purchase_join_stream,
    dedup_keys_stream,
    hourly_agg_stream,
    read_events_stream,
    session_window_stream,
    sliding_agg_stream,
)
from .runner import run_stream_to_df  # noqa: F401
