"""Inline literal tables: driver-side metadata rows as a LocalRelation.

``spark.createDataFrame(rows, ...)`` from a Python list parallelizes the
rows into an RDD — every downstream action then schedules real tasks
(default-parallelism slices), and a sort on top adds a range-sampling
job.  For the handful-of-rows literal tables the query layer builds
(catalog listings, threshold grids, band tables, k-means centroids)
that is pure scheduler overhead: measured 634ms -> 144ms for a sorted
10-row listing on local[32].

``inline_table`` renders the rows as an inline ``VALUES`` clause
instead, which Catalyst parses straight into a ``LocalRelation``: no
RDD, no job to materialize, constant-foldable, and free to broadcast.
Every column is CAST to the caller's declared type so the result schema
is byte-identical to the ``createDataFrame`` form (VALUES alone would
infer bigint for ints and decimal for fractional literals).

Only literal-safe values are supported (str/bool/int/float/None and
flat lists of those) — this is for metadata-sized tables built on the
driver, not a data path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

__all__ = ["inline_table"]


_INTEGRAL_ELEM_TYPES = {
    "tinyint", "byte", "smallint", "short", "int", "integer", "bigint",
    "long",
}


def _array_elem_type(typ: "str | None") -> "str | None":
    if not typ:
        return None
    t = typ.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return t[len("array<"):-1].strip()
    return None


def _sql_lit(v, typ: "str | None" = None) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        # Quote-doubling ('') and backslash-doubling are correct in the
        # DEFAULT parser mode.  Under spark.sql.parser.escapedStringLiterals
        # =true NEITHER escape works ('' renders two literal quotes,
        # measured on 4.1.2) — ``inline_table`` refuses any string needing
        # escapes in that mode rather than silently corrupting the literal.
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # repr(-0.0) would parse as a decimal literal, which has no
            # signed zero — the sign survives only through a double cast
            return "CAST('-0.0' AS DOUBLE)"
        # repr is shortest-round-trip: parsed as an exact decimal literal
        # (38 digits covers the 17 significant digits a double carries),
        # the column-level CAST back to double recovers the value exactly
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (list, tuple)):
        # The packed (split-string) form converts elements via a
        # STRING->element cast, which differs from the double->integral
        # cast for float values bound for an integral array
        # (cast('2.5' as int) is NULL where array(2.5) cast yields 2) —
        # so a float element destined for an integral element type falls
        # back to the literal array form.  All current callers declare
        # array<double>/array<float>; this closes the latent divergence.
        elem = _array_elem_type(typ)
        packable = _all_numeric(v) and not (
            elem in _INTEGRAL_ELEM_TYPES
            and any(isinstance(x, float) for x in v)
        )
        if packable:
            return _packed_numeric_array(v)
        return "array(" + ", ".join(_sql_lit(x) for x in v) + ")"
    raise TypeError(f"inline_table: unsupported literal type {type(v).__name__}")


def _all_numeric(v) -> bool:
    return len(v) > 0 and all(
        x is None
        or (isinstance(x, (int, float)) and not isinstance(x, bool))
        for x in v
    )


def _packed_numeric_array(v) -> str:
    """Numeric arrays render as ONE string literal split at runtime
    (``split('x,y,…', ',')``) instead of an ``array(...)`` of element
    literals: the ANTLR parse cost of a VALUES clause is per token, and
    a 128-row centroid table of 64-double vectors (8k literal tokens)
    measured ~2.7s to parse against ~60ms in this form.  The column-level
    CAST to the declared array type converts elementwise; Java's
    parseDouble/parseFloat of Python's shortest round-trip repr is
    correctly rounded, so values are bit-identical to the literal form
    (float targets are exact for float32-representable inputs, which is
    what every array<float> caller collects from a float column).  A
    None element renders as the empty token, which casts to NULL."""
    toks = []
    for x in v:
        if x is None:
            toks.append("")
        elif isinstance(x, float):
            if math.isnan(x):
                toks.append("NaN")
            elif math.isinf(x):
                toks.append("-Infinity" if x < 0 else "Infinity")
            else:
                toks.append(repr(x))
        else:
            toks.append(repr(x))
    return "split('" + ",".join(toks) + "', ',')"


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """Split a DDL schema string on top-level commas into (name, type)
    pairs — commas inside decimal(38,0) / array<...> don't split."""
    cols, depth, cur = [], 0, []
    for c in schema:
        if c in "(<":
            depth += 1
        elif c in ")>":
            depth -= 1
        if c == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    cols.append("".join(cur))
    out = []
    for col in cols:
        name, typ = col.strip().split(None, 1)
        out.append((name, typ.strip()))
    return out


def inline_table(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Literal rows -> LocalRelation with exactly the declared schema.

    Drop-in for ``spark.createDataFrame(rows, schema)`` on small
    driver-side literal tables; see module docstring for why.
    """
    cols = _split_schema(schema)
    for i, row in enumerate(rows):
        if len(row) != len(cols):
            raise ValueError(
                f"inline_table: row {i} has {len(row)} values but the "
                f"schema has {len(cols)} columns"
            )
    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)

    def _needs_escape(v) -> bool:
        if isinstance(v, str):
            return "\\" in v or "'" in v
        if isinstance(v, (list, tuple)):
            return any(_needs_escape(x) for x in v)
        return False

    if any(_needs_escape(v) for row in rows for v in row):
        # _sql_lit doubles quotes and backslashes, which only round-trips
        # in the default (escaping) parser mode — see the comment there.
        conf = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        if str(conf).lower() == "true":
            raise ValueError(
                "inline_table: quote/backslash in a string literal cannot "
                "be escaped under spark.sql.parser.escapedStringLiterals"
                "=true"
            )
    if not rows:
        nulls = ", ".join("NULL" for _ in cols)
        return spark.sql(
            f"SELECT {casts} FROM (VALUES ({nulls})) AS t({names}) WHERE 1=0"
        )
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT {casts} FROM (VALUES {vals}) AS t({names})")
