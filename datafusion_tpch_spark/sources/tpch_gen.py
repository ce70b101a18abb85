"""Deterministic, distributed TPC-H table generators (Tier A parity).

The reference crate's entire own code is this layer: per-table table
functions ``tpch_<table>(sf [, part, num_parts])`` (``src/lib.rs:15-186``),
a registration helper (``src/lib.rs:189-200``) and a bulk ``tpch(sf)``
provider that registers all 8 tables and returns a listing table
(``src/lib.rs:203-310``).  This module is the Spark-first re-expression.

Each table's generator is written once, as **projection text**: Spark SQL
``expr AS name`` items over a row-id column ``id``, built by the helpers
below (``_h``, ``_pick``, ``_money``, ``_date``, ``_comment``, ``_phone``,
``_line_count``) and referring to the scale factor as ``sf``.  Two row
sources run that one text, both inside the JVM:

- ``GENERATORS[t](spark, sf, part, num_parts)`` runs it with
  ``selectExpr`` over a **lazy, partitioned** ``spark.range`` slice, with
  ``sf`` bound as a literal so Catalyst folds every size to a constant.
  No driver-side materialization and no UDFs; it scales linearly with
  executors.  The reference eagerly generates everything into a *single*
  in-memory batch on the planning thread (``src/lib.rs:111-126``).
- ``register_tpch_udtfs(spark)`` makes the same text SQL table functions
  (``CREATE TEMPORARY FUNCTION ... RETURNS TABLE``) over a one-row
  ``explode(sequence(lo, hi - 1))`` source.  A bare call runs in one task,
  as the reference does; the distributed SQL spelling is a LATERAL join
  over part ids::

      SELECT t.* FROM range(1, 33) AS r,
      LATERAL tpch_lineitem(1.0, CAST(r.id AS INT), 32) AS t

``part``/``num_parts`` actually work on both paths.  The reference parses
and validates them but silently generates the whole table (bindings at
``src/lib.rs:93-98`` are dropped; generator construction at ``:106`` uses
the defaults) and accepts 0 (validation ``< 0`` at ``:100-102``).  Here
the row-id range is sliced exactly, so the union of all parts equals the
whole table, and invalid arguments raise (``ValueError`` on the DataFrame
path, ``raise_error`` on the SQL path, empty slice or not).

Values are derived from ``xxhash64`` of the row id, deterministic for a
given (sf, part, num_parts) like the seeded tpchgen generators.  Schemas
are the full 8-table TPC-H spec schemas (column counts match the
reference's asserted 4/3/8/9/16/9/5/7, ``src/lib.rs:335-344``), with
spec-faithful types: Decimal(15,2) money, DateType dates.

Row counts match the reference's shape assertions exactly for **all 8
tables**, including lineitem's SF1 = 6,001,215 (``src/lib.rs:339``): the
per-order 1-7 line count replays the public TPC-H generators' Lehmer-LCG
stream in *closed form* (``_line_count``), so the draw stays random-access
and partition-sliceable instead of sequential.  All per-SF cardinalities
are pinned in ``tests/test_tpch_gen.py::EXACT_COUNTS``.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

from .. import TPCH_TABLES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey) — the 25 canonical TPC-H nations
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
INSTRUCTIONS = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
TYPE_S1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_S2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_S3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
CONTAINERS1 = ["SM", "LG", "MED", "JUMBO", "WRAP"]
CONTAINERS2 = ["CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM"]
NAME_WORDS = [
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan",
    "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest",
    "frosted", "gainsboro", "ghost", "goldenrod", "green", "grey", "honeydew",
    "hot", "hotpink", "indian", "ivory", "khaki", "lace", "lavender", "lawn",
    "lemon", "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
    "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive", "orange",
    "orchid", "pale", "papaya", "peach", "peru", "pink", "plum", "powder",
    "puff", "purple", "red", "rose", "rosy", "royal", "saddle", "salmon",
    "sandy", "seashell", "sienna", "sky", "slate", "smoke", "snow", "spring",
    "steel", "tan", "thistle", "tomato", "turquoise", "violet", "wheat",
    "white", "yellow",
]
COMMENT_WORDS = [
    "carefully", "quickly", "furiously", "slyly", "blithely", "deposits",
    "requests", "packages", "accounts", "instructions", "foxes", "ideas",
    "theodolites", "pinto", "beans", "asymptotes", "dependencies", "excuses",
    "platelets", "sleep", "nag", "haggle", "wake", "bold", "final", "express",
    "ironic", "pending", "regular", "special",
]

_SF1 = {
    "customer": 150_000,
    "orders": 1_500_000,
    "part": 200_000,
    "supplier": 10_000,
}
# the row-id range each table is generated over: (SF1-scaled table whose
# count it is, or None for a fixed count, and ids per row of that table)
_ID_RANGE = {
    "region": (None, len(REGIONS)),
    "nation": (None, len(NATIONS)),
    "customer": ("customer", 1),
    "supplier": ("supplier", 1),
    "part": ("part", 1),
    "partsupp": ("part", 4),
    "orders": ("orders", 1),
    "lineitem": ("orders", 1),
}
_EPOCH = "1992-01-01"
_DATE_SPAN = 2406  # days: 1992-01-01 .. 1998-08-02, per spec


def _validate(sf: float, part: int, num_parts: int) -> None:
    if sf <= 0:
        raise ValueError(f"scale factor must be > 0, got {sf}")
    # the reference advertises this validation but accepts 0 (src/lib.rs:100-102)
    if part <= 0 or num_parts <= 0:
        raise ValueError(f"part/num_parts must be > 0, got {part}/{num_parts}")
    if part > num_parts:
        raise ValueError(f"part {part} out of range 1..{num_parts}")


# _validate's contract on the SQL path, as CASE branches: checked on the
# one source row, so it fires whether or not the slice is empty
_SQL_SF_CHECK = (
    "WHEN sf > 0 IS NOT TRUE THEN raise_error("
    "format_string('scale factor must be > 0, got %s', sf)) "
)
_SQL_CHECKS = _SQL_SF_CHECK + (
    "WHEN (part > 0 AND num_parts > 0) IS NOT TRUE THEN raise_error("
    "format_string('part/num_parts must be > 0, got %s/%s', part, num_parts)) "
    "WHEN part > num_parts THEN raise_error("
    "format_string('part %s out of range 1..%s', part, num_parts)) "
)


def _slice(n: int, part: int, num_parts: int) -> tuple[int, int]:
    """Row-id range [lo, hi) for this part — exact partition of 0..n."""
    lo = (n * (part - 1)) // num_parts
    hi = (n * part) // num_parts
    return lo, hi


def _ranged(spark: SparkSession, n: int, part: int, num_parts: int) -> DataFrame:
    lo, hi = _slice(n, part, num_parts)
    width = max(hi - lo, 1)
    parts = min(max(width // 65_536, 1), spark.sparkContext.defaultParallelism * 4)
    return spark.range(lo, hi, 1, parts)


# --- projection-text helpers: each returns a SQL expression string ----------

def _n(table: str, sf: str) -> str:
    """Row count of an SF1-scaled ``table`` at scale ``sf``."""
    return f"CAST({_SF1[table]} * {sf} AS BIGINT)"


def _h(tag: str, *keys: str) -> str:
    """Deterministic 64-bit derivation hash (same for a given row forever)."""
    return f"xxhash64('{tag}', {', '.join(keys)})"


def _draw(tag: str, n: int | str, *keys: str) -> str:
    """Uniform draw in [0, n) keyed by ``keys``."""
    return f"pmod({_h(tag, *keys)}, {n})"


def _pick(tag: str, key: str, values: list[str]) -> str:
    arr = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), CAST({_draw(tag, len(values), key)} + 1 AS INT))"


def _money(tag: str, key: str, lo: float, hi: float) -> str:
    cents = _draw(tag, int((hi - lo) * 100) + 1, key)
    return f"CAST(({cents} + {int(lo * 100)}) / 100.0D AS DECIMAL(15,2))"


def _date(tag: str, key: str, offset_lo: int = 0, span: int = _DATE_SPAN) -> str:
    return f"date_add(DATE'{_EPOCH}', CAST({_draw(tag, span, key)} + {offset_lo} AS INT))"


def _comment(tag: str, key: str, nwords: int = 6) -> str:
    words = ", ".join(_pick(f"{tag}_c{i}", key, COMMENT_WORDS) for i in range(nwords))
    return f"concat_ws(' ', {words})"


def _phone(tag: str, key: str, nationkey: str) -> str:
    return (
        f"format_string('%02d-%03d-%03d-%04d', CAST({nationkey} + 10 AS INT), "
        f"CAST({_draw(tag + '1', 900, key)} AS INT) + 100, "
        f"CAST({_draw(tag + '2', 900, key)} AS INT) + 100, "
        f"CAST({_draw(tag + '3', 9000, key)} AS INT) + 1000)"
    )


def _retail(key: str) -> str:
    # spec formula: (90000 + ((partkey/10) % 20001) + 100*(partkey % 1000)) / 100
    return (f"CAST((90000 + CAST(pmod({key} / 10, 20001) AS BIGINT) "
            f"+ pmod({key}, 1000) * 100) / 100 AS DECIMAL(15,2))")


def _row_of(rows: list[tuple], names: tuple[str, ...]) -> str:
    """Generator over the ``id``-th of the literal ``rows`` as columns
    ``names`` (nullable, as a DDL-typed frame of them would be)."""
    def lit(v):
        return f"'{v}'" if isinstance(v, str) else f"{v}L"

    structs = ", ".join(
        "named_struct(" + ", ".join(f"'{n}', {lit(v)}" for n, v in zip(names, row)) + ")"
        for row in rows
    )
    return f"inline(array(element_at(array({structs}), CAST(id + 1 AS INT))))"


# Line-count RNG: the public TPC-H generators (dbgen and its Java/Rust
# ports) draw each order's 1-7 line count from a Lehmer LCG
# x' = 16807*x mod (2^31-1), one draw per order row, stream seed
# 1434868289.  seed_i = seed0 * 16807^(i+1) mod M is closed-form, so a
# partitioned generator jumps straight to any order's draw with ``width``
# conditional multiply-mods (binary exponentiation over the order index)
# instead of replaying the sequential stream — each factor fits in a long
# (product < 2^62), all JVM-side.  This reproduces the reference's exact
# SF1 lineitem cardinality 6,001,215 (src/lib.rs:339).
_LCG_M = 2147483647
_LCG_MUL = 16807
_LINE_SEED = 1434868289
# unroll width of the SQL table functions: a BIGINT order index has at
# most 63 bits, so it covers any sf (the DataFrame path unrolls exactly
# the bits of its order count)
_SQL_LCG_WIDTH = 63


def _line_count(order_idx: str, width: int) -> str:
    """1-7 lines for the 0-based ``order_idx``-th order, spec RNG stream;
    exact for any index below ``2**width - 1``."""
    acc = f"CAST({_LINE_SEED} AS BIGINT)"
    p = _LCG_MUL
    for j in range(width):
        # multiply by p_j or 1 — keeps `acc` appearing once per step so
        # the expression tree stays linear in width, not 2^width
        factor = f"CASE WHEN (shiftright({order_idx} + 1, {j}) & 1) = 1 THEN {p} ELSE 1 END"
        acc = f"pmod({acc} * {factor}, {_LCG_M})"
        p = (p * p) % _LCG_M
    return f"CAST(floor({acc} * 7 / {_LCG_M}) + 1 AS INT)"


# --- the projection text of each table ---------------------------------------
# ``_<table>(sf, width)`` returns the table's projection stages: lists of
# ``expr AS name`` items, each stage run over the previous one's output,
# the first over the row ids ``id``.  ``sf`` is SQL text; ``width`` is the
# line-count unroll width (lineitem only).

def _region(sf: str, width: int) -> list[list[str]]:
    """Mirrors TpchRegion (src/lib.rs:183-186): 5 rows × 3 cols, fixed."""
    return [
        [_row_of([(i, name) for i, name in enumerate(REGIONS)], ("r_regionkey", "r_name"))],
        ["r_regionkey", "r_name", f"{_comment('rc', 'r_regionkey')} AS r_comment"],
    ]


def _nation(sf: str, width: int) -> list[list[str]]:
    """Mirrors TpchNation (src/lib.rs:133-137): 25 rows × 4 cols, fixed."""
    rows = [(i, n, r) for i, (n, r) in enumerate(NATIONS)]
    return [
        [_row_of(rows, ("n_nationkey", "n_name", "n_regionkey"))],
        ["n_nationkey", "n_name", "n_regionkey", f"{_comment('nc', 'n_nationkey')} AS n_comment"],
    ]


def _supplier(sf: str, width: int) -> list[list[str]]:
    k = "(id + 1)"
    nk = _draw("s_nat", 25, k)
    return [[
        f"{k} AS s_suppkey",
        f"format_string('Supplier#%09d', CAST({k} AS INT)) AS s_name",
        f"concat('addr-', conv(CAST({_h('s_addr', k)} AS STRING), 10, 16)) AS s_address",
        f"{nk} AS s_nationkey",
        f"{_phone('s_ph', k, nk)} AS s_phone",
        f"{_money('s_bal', k, -999.99, 9999.99)} AS s_acctbal",
        f"{_comment('s_cmt', k, 8)} AS s_comment",
    ]]


def _customer(sf: str, width: int) -> list[list[str]]:
    k = "(id + 1)"
    nk = _draw("c_nat", 25, k)
    return [[
        f"{k} AS c_custkey",
        f"format_string('Customer#%09d', CAST({k} AS INT)) AS c_name",
        f"concat('addr-', conv(CAST({_h('c_addr', k)} AS STRING), 10, 16)) AS c_address",
        f"{nk} AS c_nationkey",
        f"{_phone('c_ph', k, nk)} AS c_phone",
        f"{_money('c_bal', k, -999.99, 9999.99)} AS c_acctbal",
        f"{_pick('c_seg', k, SEGMENTS)} AS c_mktsegment",
        f"{_comment('c_cmt', k, 10)} AS c_comment",
    ]]


def _part(sf: str, width: int) -> list[list[str]]:
    k = "(id + 1)"
    name = ", ".join(_pick(f"p_n{i}", k, NAME_WORDS) for i in range(1, 6))
    return [[
        f"{k} AS p_partkey",
        f"concat_ws(' ', {name}) AS p_name",
        f"format_string('Manufacturer#%d', CAST({_draw('p_mfgr', 5, k)} + 1 AS INT)) AS p_mfgr",
        f"format_string('Brand#%d', CAST({_draw('p_brand', 25, k)} + 1 AS INT)) AS p_brand",
        f"concat_ws(' ', {_pick('p_t1', k, TYPE_S1)}, {_pick('p_t2', k, TYPE_S2)}, "
        f"{_pick('p_t3', k, TYPE_S3)}) AS p_type",
        f"CAST({_draw('p_size', 50, k)} + 1 AS INT) AS p_size",
        f"concat_ws(' ', {_pick('p_c1', k, CONTAINERS1)}, {_pick('p_c2', k, CONTAINERS2)}) "
        "AS p_container",
        f"{_retail(k)} AS p_retailprice",
        f"{_comment('p_cmt', k, 5)} AS p_comment",
    ]]


def _partsupp(sf: str, width: int) -> list[list[str]]:
    """4 suppliers per part (spec), supplier spread via the spec's stride
    formula so every supplier serves ~80 parts."""
    k = "id"  # 0 .. 4*parts-1
    n_supp = _n("supplier", sf)
    pk = f"(CAST({k} / 4 AS BIGINT) + 1)"
    return [[
        f"{pk} AS ps_partkey",
        f"pmod({pk} + pmod({k}, 4) * (CAST({n_supp} / 4 AS BIGINT) + 1), "
        f"greatest({n_supp}, 1)) + 1 AS ps_suppkey",
        f"CAST({_draw('ps_avail', 9999, k)} + 1 AS INT) AS ps_availqty",
        f"{_money('ps_cost', k, 1.00, 1000.00)} AS ps_supplycost",
        f"{_comment('ps_cmt', k, 12)} AS ps_comment",
    ]]


def _orders(sf: str, width: int) -> list[list[str]]:
    k = "(id + 1)"
    n_cust = f"greatest({_n('customer', sf)}, 1)"
    return [[
        f"{k} AS o_orderkey",
        f"{_draw('o_cust', n_cust, k)} + 1 AS o_custkey",
        f"{_pick('o_stat', k, ['O', 'F', 'P'])} AS o_orderstatus",
        f"{_money('o_total', k, 1000.00, 450000.00)} AS o_totalprice",
        # leave room for ship + receipt
        f"{_date('o_date', k, 0, _DATE_SPAN - 151)} AS o_orderdate",
        f"{_pick('o_prio', k, PRIORITIES)} AS o_orderpriority",
        f"format_string('Clerk#%09d', CAST({_draw('o_clerk', 1000, k)} + 1 AS INT)) AS o_clerk",
        "CAST(0 AS INT) AS o_shippriority",
        f"{_comment('o_cmt', k, 8)} AS o_comment",
    ]]


def _lineitem(sf: str, width: int) -> list[list[str]]:
    """1-7 lines per order (deterministic), line columns derived from
    (orderkey, linenumber). Generated over order ids so part/num_parts
    composes: every order's lines live in exactly one part."""
    k = "(id + 1)"
    ok, ln = "l_orderkey", "l_linenumber"
    okln = f"({ok} + {ln})"
    n_supp = _n("supplier", sf)
    n_part = f"greatest({_n('part', sf)}, 1)"
    pkey = f"({_draw('l_part', n_part, ok, ln)} + 1)"
    qty = f"CAST({_draw('l_qty', 50, ok, ln)} + 1 AS DECIMAL(15,2))"
    ship = f"date_add(_odate, CAST({_draw('l_sd', 121, ok, ln)} + 1 AS INT))"
    return [
        [
            f"{k} AS {ok}",
            f"{_date('o_date', k, 0, _DATE_SPAN - 151)} AS _odate",
            f"explode(sequence(1, {_line_count('id', width)})) AS {ln}",
        ],
        [
            ok,
            f"{pkey} AS l_partkey",
            f"pmod({pkey} + {_draw('l_supp', 4, ok, ln)} * (CAST({n_supp} / 4 AS BIGINT) + 1), "
            f"greatest({n_supp}, 1)) + 1 AS l_suppkey",
            ln,
            f"{qty} AS l_quantity",
            f"CAST({qty} * {_retail(pkey)} AS DECIMAL(15,2)) AS l_extendedprice",
            f"CAST({_draw('l_disc', 11, ok, ln)} / 100 AS DECIMAL(15,2)) AS l_discount",
            f"CAST({_draw('l_tax', 9, ok, ln)} / 100 AS DECIMAL(15,2)) AS l_tax",
            f"{_pick('l_rf', okln, ['R', 'A', 'N'])} AS l_returnflag",
            f"CASE WHEN {ship} <= DATE'1995-06-17' THEN 'F' ELSE 'O' END AS l_linestatus",
            f"{ship} AS l_shipdate",
            f"date_add(_odate, CAST({_draw('l_cd', 61, ok, ln)} + 30 AS INT)) AS l_commitdate",
            f"date_add({ship}, CAST({_draw('l_rd', 30, ok, ln)} + 1 AS INT)) AS l_receiptdate",
            f"{_pick('l_si', okln, INSTRUCTIONS)} AS l_shipinstruct",
            f"{_pick('l_sm', okln, SHIPMODES)} AS l_shipmode",
            f"{_comment('l_cmt', okln, 4)} AS l_comment",
        ],
    ]


_PROJECTIONS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "partsupp": _partsupp,
    "orders": _orders,
    "lineitem": _lineitem,
}


# --- row source 1: the DataFrame generators -------------------------------------

def _rendered(table: str, sf: float) -> tuple[int, list[list[str]]]:
    """Row-id count and projection stages of ``table`` with ``sf`` bound."""
    scaled, per_row = _ID_RANGE[table]
    n = (int(_SF1[scaled] * sf) if scaled else 1) * per_row
    return n, _PROJECTIONS[table](f"{float(sf)!r}D", max(n.bit_length(), 1))


def projection_fingerprint(table: str, sf: float) -> str:
    """sha256 over ``table``, ``sf`` and the projection text
    ``GENERATORS[table](spark, sf)`` runs: equal fingerprints mean equal
    generated rows, so an export can tell whether it is current."""
    n, stages = _rendered(table, sf)
    key = json.dumps([table, float(sf), n, stages])
    return hashlib.sha256(key.encode()).hexdigest()


def _generator(table: str):
    def generate(spark: SparkSession, sf: float = 1.0, part: int = 1,
                 num_parts: int = 1) -> DataFrame:
        _validate(sf, part, num_parts)
        n, stages = _rendered(table, sf)
        df = _ranged(spark, n, part, num_parts)
        for stage in stages:
            df = df.selectExpr(*stage)
        return df

    generate.__name__ = f"tpch_{table}"
    return generate


GENERATORS = {t: _generator(t) for t in _PROJECTIONS}


# --- row source 2: the SQL table functions --------------------------------------

def _function_body(table: str) -> str:
    """``SELECT`` of ``tpch_<table>(sf, part, num_parts)``: the projection
    text over this part's row ids, exploded from one source row."""
    scaled, per_row = _ID_RANGE[table]
    n = f"({_n(scaled, 'sf') if scaled else 1} * {per_row})"
    lo, hi = f"({n} * (part - 1) DIV num_parts)", f"({n} * part DIV num_parts)"
    # sequence(lo, hi - 1) counts down when the slice is empty
    ids = f"CASE {_SQL_CHECKS}WHEN {hi} > {lo} THEN sequence({lo}, {hi} - 1) ELSE array() END"
    body = f"SELECT explode({ids}) AS id"
    for stage in _PROJECTIONS[table]("sf", _SQL_LCG_WIDTH):
        body = f"SELECT {', '.join(stage)} FROM ({body})"
    return body


def register_tpch_udtfs(spark: SparkSession) -> None:
    """Parity with the reference's ``register_tpch_udtfs``
    (src/lib.rs:189-200) and ``tpch`` provider (src/lib.rs:203-310): makes
    ``tpch_<table>(sf [, part, num_parts])`` for all 8 tables and the bulk
    ``tpch(sf)`` listing invocable from ``spark.sql``, as SQL table
    functions over the generators' own projection text.

    ``tpch(sf, path)``'s second argument is documented by the reference
    (``src/lib.rs:277-279``) but never read (``src/lib.rs:282-290``).  Here
    a non-empty path is refused with the statements that export the tables;
    the reference's plan-time side effect, registering the 8 tables under
    bare names, is the Python call ``register_tpch(spark, sf)``."""
    for table in GENERATORS:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION tpch_{table}(sf DOUBLE, "
            "part INT DEFAULT 1, num_parts INT DEFAULT 1) "
            f"RETURNS TABLE RETURN {_function_body(table)}"
        )
    tables = ", ".join(f"'{t}'" for t in TPCH_TABLES)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tpch(sf DOUBLE, path STRING DEFAULT '') "
        f"RETURNS TABLE RETURN SELECT explode(CASE {_SQL_SF_CHECK}"
        "WHEN path <> '' THEN raise_error(format_string('tpch(sf, path) writes no "
        "files; export each table t with INSERT OVERWRITE DIRECTORY ''%s/<t>.parquet'' "
        "USING parquet SELECT * FROM tpch_<t>(%s), for t in "
        f"{', '.join(TPCH_TABLES)}', path, sf)) "
        f"ELSE array({tables}) END) AS table_name"
    )


def call_tpch(spark: SparkSession, table: str, sf: float, part: int = 1, num_parts: int = 1) -> DataFrame:
    """``tpch_<table>(sf, part, num_parts)`` — the per-table entry point
    (reference: SELECT * FROM tpch_lineitem(1.0), src/lib.rs:348)."""
    if table not in GENERATORS:
        raise ValueError(f"unknown TPC-H table {table!r}; one of {sorted(GENERATORS)}")
    return GENERATORS[table](spark, sf, part, num_parts)


def register_tpch(spark: SparkSession, sf: float = 1.0) -> DataFrame:
    """Bulk registration — parity with ``tpch(sf)`` (src/lib.rs:203-310):
    registers all 8 tables as temp views under bare names and returns the
    1-column listing DataFrame. Catalog mutation happens on the driver,
    exactly where DataFusion does it (plan time)."""
    for name in TPCH_TABLES:
        GENERATORS[name](spark, sf).createOrReplaceTempView(name)
    from ..inline import inline_table

    return inline_table(spark, [(t,) for t in TPCH_TABLES], "table_name string")
