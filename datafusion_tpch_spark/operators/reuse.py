"""Evaluate-once: keep a frame with several consumers one subtree.

A frame declared once is not evaluated once by itself.  When two
consumers read it, AQE runs its upstream chain (scan, explode, shuffle)
once and reuses the exchange only if both branches are *canonically
identical* below it.  Four optimizer rules fork them silently:

- **ColumnPruning**, with the count-to-distinct rewrite: a consumer that
  drops a column prunes it out of the shared aggregate, so
  ``groupBy(k, t).agg(count)`` becomes a distinct-style aggregate on
  that branch only (tfidf's document frequency, boilerplate's hot words,
  chunk-dedup's owners, the ``sharded_prefix`` carry totals).
- **InferFiltersFromConstraints**: an equi-join infers ``isnotnull(key)``
  and pushes it into its own branch's scan; an aggregate-only consumer
  of the same frame infers nothing (q15's revenue and max-revenue
  branches, chisq's cells and marginals, funnel's stages).
- **PushDownLeftSemiAntiJoin**: an anti-join is pushed below the shared
  aggregate, so that branch's subtree gains a join the others lack
  (boilerplate's strip side).
- **Distinct-over-distinct collapse**: a duplicate-insensitive consumer
  of a ``distinct()`` frame folds the inner distinct into its own
  aggregate over the raw scan (stickiness' weekly actives).

:func:`evaluate_once` defends against all four.  Its first ingredient
is a filter whose hash over every column is always true (``hash | 1`` is
odd, hence never 0, and never null) but which the optimizer cannot fold,
so it stays in place.  Because it reads every column, no consumer can
prune a column out from under it, collapse a distinct through it or push
a semi/anti join below it.  Place it on the shared frame, or on the one
consumer that would prune, and every branch sees the same subtree.  The
frame must carry a column the filter cannot be pushed past: an aggregate
result or a nondeterministic one (over a bare ``distinct()`` the filter
reads grouping keys only and sinks below the aggregate).  The second
ingredient is for inferred not-nulls, which land *below* the filter at
the scan: the ``not_null`` keys state them explicitly, so every branch
carries them.  Pinned registry-wide by
``tests/test_plans.py::test_shared_subtrees_evaluated_once``.

Input contract: every column is hashed, so a ``MapType`` column fails
analysis (Spark's ``hash()`` rejects maps); project first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate_once(df: DataFrame, not_null: Sequence[str] = ()) -> DataFrame:
    """``df`` behind an always-true, unfoldable filter over every column,
    ANDed with ``isNotNull`` on each ``not_null`` key (which, unlike the
    hash, does drop rows)."""
    cond = F.hash(*df.columns).bitwiseOR(F.lit(1)) != 0
    for c in not_null:
        cond = F.col(c).isNotNull() & cond
    return df.where(cond)
