"""Physical-plan introspection (scale audit).

The reference inherits its optimizer wholesale from DataFusion and adds no
rules (SURVEY.md §4); likewise our engine's optimizer IS Catalyst.  What we
add here is the *audit* surface: programmatic checks that the plans Catalyst
produces are the plans we want at 100 TB — dimension joins broadcast, scans
column-pruned and filter-pushed, shuffle counts bounded.  Used by tests and
by tools/plan_audit.py (writes PLANS.md).
"""

from .audit import (  # noqa: F401
    audit,
    broadcast_join_count,
    cached_build_exchange_count,
    exchange_count,
    kernel_front_widths,
    plan_string,
    pushed_filters,
    scan_columns,
    strip_cached_subtrees,
    unbounded_global_windows,
)
