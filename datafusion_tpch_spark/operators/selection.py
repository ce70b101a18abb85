"""Distributed order-statistics / prefix-scan building blocks.

Three patterns recur across the query surface wherever a naive plan
would drag a data-sized (or domain-unbounded) row set through a single
reducer.  Each is implemented once here and reused by every gate; the
algebraic identities they rely on are property-tested in
tests/test_selection_algebra.py.

- :func:`sharded_prefix` — range-sharded two-pass prefix aggregate
  (running sum / max / rank): local prefix per shard + a broadcast
  triangle-join carry-in from earlier shards, all consumers sharing ONE
  range exchange.  No task ever holds more than one shard of the order.
- :func:`salted_topk` — two-level salted per-group top-k: per
  (group, salt) keep the k lexicographically-smallest key structs as a
  sorted slice, then union-and-re-truncate per group.  The merge sees
  at most salts x k structs per group.
- :func:`rank_thresholds` — nearest-rank selection (quantiles, medians,
  winsorize bounds) from a cumulative count over DISTINCT values,
  itself computed as a deterministically range-bucketed two-pass scan:
  reducer input is one bucket of the value domain, never the data and
  never a whole group's domain (continuous-valued columns have
  data-sized domains, so a per-group sort window would smuggle the
  single-reducer shape back in).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .reuse import evaluate_once

DEFAULT_RANGES = 32  # range-shard fan-out for the prefix scans


def _triangle_carry(
    shard_tot: DataFrame, partition_by: Sequence[str], agg
) -> DataFrame:
    """Per-(pid, group) aggregate of all EARLIER shards' totals as a
    broadcast triangle join — #shards x #groups rows on both sides."""
    renames = {c: f"_p_{c}" for c in ["pid", *partition_by]}
    prior = shard_tot.select(
        *[F.col(c).alias(n) for c, n in renames.items()],
        F.col("_st").alias("_pst"),
    )
    cond = F.col("_p_pid") < F.col("pid")
    for c in partition_by:
        cond = cond & (F.col(f"_p_{c}") == F.col(c))
    return (
        shard_tot.join(F.broadcast(prior), cond, "left")
        .groupBy("pid", *partition_by)
        .agg(agg(F.col("_pst")).alias("_carry"))
    )
_BUCKETS_PER_DECADE = 32  # log-quantization granularity for rank_thresholds
# (band factor 10^(1/32) ≈ 1.075: even values uniform across a decade put
# at most ~7% of a group's domain in one bucket)


def sharded_prefix(
    df: DataFrame,
    *,
    order_by: Sequence[str],
    value: Column,
    agg: str,
    partition_by: Sequence[str] = (),
    inclusive: bool = True,
    num_ranges: int = DEFAULT_RANGES,
    out_col: str = "prefix",
) -> DataFrame:
    """Append ``out_col`` = running ``agg`` of ``value`` over rows ordered
    by ``order_by`` within each ``partition_by`` group, computed as a
    range-sharded two-pass scan (never a global / low-cardinality-keyed
    window).

    ``agg``: ``"sum"`` (carry-in added; inclusive sums are never null) or
    ``"max"`` (carry-in via ``greatest`` — null iff no predecessor exists
    anywhere, preserving the strictly-previous-row semantics callers
    filter on).  ``inclusive=False`` excludes the current row.
    Also appends a ``pid`` shard column (callers may drop it).

    Input contract: the range-sharded frame goes through
    :func:`~.reuse.evaluate_once` (the totals and output branches share
    its one range exchange), which hashes every column of ``df``; so
    callers pass ``df`` projected to the scalar columns they need.
    """
    ranged = evaluate_once(
        df.repartitionByRange(num_ranges, *order_by).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    frame_end = 0 if inclusive else -1
    local_w = (
        Window.partitionBy("pid", *partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    fagg = {"sum": F.sum, "max": F.max}[agg]
    local = fagg(value).over(local_w)
    shard_tot = ranged.groupBy("pid", *partition_by).agg(
        fagg(value).alias("_st")
    )
    # carry = strictly-earlier shards' totals, via the broadcast triangle
    # join over the tiny (pid, group) totals table (#shards x #groups
    # rows both sides — a partition-less window here would be flagged by
    # the global-window guard even though the input is construction-
    # bounded, so the join form stays).
    if agg == "sum":
        carry = _triangle_carry(
            shard_tot, partition_by,
            lambda c: F.coalesce(F.sum(c), F.lit(0)),
        )
        combined = F.col("_carry") + F.coalesce(F.col("_local"), F.lit(0))
    else:
        # null iff no earlier shard exists (left join finds no match),
        # preserving the strictly-previous-row semantics callers filter on
        carry = _triangle_carry(shard_tot, partition_by, F.max)
        combined = F.greatest(F.col("_local"), F.col("_carry"))
    return (
        ranged.withColumn("_local", local)
        .join(F.broadcast(carry), ["pid", *partition_by])
        .withColumn(out_col, combined)
        .drop("_local", "_carry")
    )


def salted_topk(
    df: DataFrame,
    *,
    group_by: Sequence[str],
    key: Column,
    k: int,
    salt: Column,
    extras_partial: Sequence[Column] = (),
    extras_final: Sequence[Column] = (),
    out_col: str = "topk",
) -> DataFrame:
    """Per-group array of the ``k`` lexicographically-smallest ``key``
    structs, as a two-level salted aggregation: per (group, salt) sorted
    slice, then union-and-re-truncate.  ``extras_partial`` aggregates
    ride the level-1 shuffle (e.g. per-salt counts); ``extras_final``
    reduce them at level 2 (e.g. summing the counts — each row lands in
    exactly one salt shard).

    Memory contract: the level-1 ``collect_list`` buffers one
    (group, salt) shard per aggregation state — ~group_size / salts
    keys — so the salt cardinality is the lever that bounds executor
    memory, sized in production as group_size / target_shard_rows (the
    fixture gates use small constants).  The level-2 merge is always
    bounded at salts x k structs per group regardless."""
    shard = df.groupBy(*group_by, salt.alias("_salt")).agg(
        F.slice(F.sort_array(F.collect_list(key)), 1, k).alias("_tk"),
        *extras_partial,
    )
    return shard.groupBy(*group_by).agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("_tk"))), 1, k).alias(
            out_col
        ),
        *extras_final,
    )


def value_counts(
    df: DataFrame, *, group_by: Sequence[str], value_col: str
) -> DataFrame:
    """Distinct-value counts ``(group…, value_col, _c)`` — the shared
    input of :func:`rank_thresholds_from_counts` AND of any caller audit
    pass that re-aggregates the same data weighted by ``_c``.  Keeping
    both consumers above this ONE aggregation is what lets Catalyst plan
    the (data-sized) exchange once and reuse it, so the source is scanned
    once (guide §2.4).  Null values are KEPT as their own (group, null)
    rows — audits need them (e.g. imputation counts); the rank machinery
    excludes them without disturbing the shared subtree."""
    return df.groupBy(*group_by, value_col).agg(
        F.count(F.lit(1)).alias("_c")
    )


def rank_thresholds_from_counts(
    counts: DataFrame,
    *,
    group_by: Sequence[str],
    value_col: str,
    targets: dict[str, Callable[[Column], Column]],
    count_col: str | None = None,
) -> DataFrame:
    """:func:`rank_thresholds` over a pre-aggregated
    :func:`value_counts` table (columns ``group…, value_col, _c``) —
    callers that also need a weighted audit over the same counts pass the
    shared frame here so the underlying exchange is planned once."""
    # Null values have no rank.  The filter must NOT push below the
    # caller-shared counts aggregate (a pushed isnotnull(value) would make
    # this consumer's scan subtree differ from the audit consumer's and
    # defeat the exchange reuse), so it is phrased as a single
    # non-splittable predicate over BOTH the grouping value and the
    # aggregate output: Catalyst cannot push a predicate referencing an
    # aggregate column, and there is no conjunct to split off.  ``_c`` is
    # always >= 1, so the predicate is exactly ``value IS NOT NULL``.
    counts = counts.where(
        F.when(F.col(value_col).isNotNull(), F.col("_c")).otherwise(
            F.lit(0)
        )
        > 0
    )
    # The cumulative count must not run as a per-group sort window: for
    # continuous-valued columns (prices, quantized measures) the distinct
    # value set is data-sized, and a window would put all of a group's
    # values on one reducer — the very shape this module exists to avoid.
    # Shard the order DETERMINISTICALLY instead: bucket = log-quantized
    # magnitude of the value, a fixed monotone transform computed inline
    # (no per-group stats pass, no repartitionByRange sampling job).
    # Prefix-sum locally per (group, bucket); the carry from earlier
    # buckets and the per-group total are WINDOWS over the per-bucket
    # totals table — #groups × #occupied-buckets rows (bucket count ≤
    # _BUCKETS_PER_DECADE × value decades, a few dozen in practice,
    # data-independent), so the per-group window partition is bounded by
    # the bucket count, never the data or the domain.  (This replaces a
    # broadcast triangle self-join + a second grouped total pass — same
    # algebra, property-tested in tests/test_selection_algebra.py, two
    # fewer stages per call.)  Values clustered inside one quantization
    # step share a bucket — degrading toward the domain-on-one-reducer
    # shape, never worse.
    v = F.col(value_col).cast("double")
    # the coalesce is semantically a no-op (both log10 arguments are
    # strictly positive under their guards, and null values are filtered
    # above) but marks the bucket non-nullable, so the equi-join on it
    # infers no extra isnotnull pushdown — which would otherwise make the
    # two consumers' scan subtrees differ and defeat the exchange reuse
    bucket = F.coalesce(
        F.when(v >= 0, F.floor(F.log10(v + 1) * _BUCKETS_PER_DECADE))
        .otherwise(-1 - F.floor(F.log10(1 - v) * _BUCKETS_PER_DECADE))
        .cast("int"),
        F.lit(0),
    )
    bucketed = counts.withColumn("_bkt", bucket)
    local_w = (
        Window.partitionBy(*group_by, "_bkt")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bkt_tot = bucketed.groupBy(*group_by, "_bkt").agg(
        F.sum("_c").alias("_bt")
    )
    # carry = strictly-earlier buckets' total; _cnt = whole-group total.
    # Both are windows over bkt_tot partitioned by the GROUP — bounded at
    # #occupied-buckets rows per partition, data-independent.
    grp_w = Window.partitionBy(*group_by).orderBy("_bkt")
    carry = bkt_tot.select(
        *group_by,
        "_bkt",
        F.coalesce(
            F.sum("_bt").over(
                grp_w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_carry"),
        F.sum("_bt")
        .over(
            grp_w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_cnt"),
    )
    cum = (
        bucketed.withColumn("_lcum", F.sum("_c").over(local_w))
        .join(F.broadcast(carry), [*group_by, "_bkt"])
        .withColumn("_cum", F.col("_carry") + F.col("_lcum"))
    )
    aggs = [
        F.min(
            F.when(F.col("_cum") >= fn(F.col("_cnt")), F.col(value_col))
        ).alias(name)
        for name, fn in targets.items()
    ]
    if count_col is not None:
        aggs.append(F.max("_cnt").alias(count_col))
    return cum.groupBy(*group_by).agg(*aggs)


def rank_thresholds(
    df: DataFrame,
    *,
    group_by: Sequence[str],
    value_col: str,
    targets: dict[str, Callable[[Column], Column]],
    count_col: str | None = None,
) -> DataFrame:
    """Per-group nearest-rank selections over ``value_col``: for each
    (name, fn) in ``targets``, emit the smallest value whose cumulative
    count reaches ``fn(total_count)`` — element ``fn(n)`` of the sorted
    multiset, computed from a cumulative count over DISTINCT values.
    ``value_col`` must be numeric.  ``count_col`` optionally emits the
    per-group total count too.

    No reducer ever holds more than one range bucket of one group's
    value domain (see the module docstring) — at extreme skew (all mass
    in one bucket) this degrades to the domain-on-one-reducer shape,
    never worse; the order-statistics swap at that point is
    ``approx_percentile`` (sketch-merge execution, same column
    contract)."""
    return rank_thresholds_from_counts(
        value_counts(df, group_by=group_by, value_col=value_col),
        group_by=group_by,
        value_col=value_col,
        targets=targets,
        count_col=count_col,
    )
