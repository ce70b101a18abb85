"""Query registry.

Every implemented operator/query is a :class:`QuerySpec`: a DataFrame
builder ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an
ANSI-SQL oracle string the driver runs through DuckDB.  Column names are
aliased identically on both sides — the driver sorts columns by name before
hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


# The driver's per-round oracle gate checks the FIRST 50 registry keys only.
# The queries listed here come first, new ones at the head; everything not
# listed keeps registration order after them.  Rotate the list across
# rounds so every query accumulates a driver-side correctness record.
_CHECK_FIRST = [
    "multimodal_exif_full_scrub", "ann_pq_persisted_topk",
    "embeddings_drift_retrain", "ann_ivf_pq_persisted_topk",
    "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9", "q10",
    "q11", "q12", "q13", "q14", "q15", "q16", "q17", "q18", "q19",
    "q20", "q21", "q22",
    "dedup_exact", "dedup_minhash_lsh", "dedup_semantic",
    "customer_record_linkage", "docs_bpe_encode",
    "docs_dedup_ingest_stream", "docs_negative_pairs",
    "docs_reservoir_sample", "docs_stratified_sample",
    "docs_token_budget_bpe", "docs_token_meter_stream", "docs_token_pack",
    "embeddings_drift", "events_concurrency", "events_hll_stream",
    "events_kmv_distinct", "multimodal_gif89a_roundtrip",
    "multimodal_jpeg420_roundtrip", "multimodal_jpeg_roundtrip",
    "orders_lineitem_hash_join", "orders_lineitem_merge_join",
    "orders_partitioned_prune", "orders_schema_evolution",
    "orders_seasonality",
]


def all_queries() -> dict[str, QuerySpec]:
    """Merged registry across the TPC-H core and the extension operators."""
    from . import advanced, cleaning, curation, extensions, stream, tpch, tpch_spec

    merged: dict[str, QuerySpec] = {}
    for mod in (tpch, tpch_spec, extensions, stream, curation, advanced, cleaning):
        for spec in mod.SPECS:
            assert spec.name not in merged, f"duplicate query name {spec.name}"
            merged[spec.name] = spec
    out: dict[str, QuerySpec] = {}
    for name in _CHECK_FIRST:
        # a typo here would silently drop the query out of the driver's
        # first-50 gate window — the exact gap the rotation exists to close
        assert name in merged, f"_CHECK_FIRST entry {name!r} not in registry"
        out[name] = merged.pop(name)
    out.update(merged)
    return out
