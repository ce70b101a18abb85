"""Non-emptiness guard for the 22 spec-typed canonical driver gates
(queries/tpch_spec.py).

Oracle parity for these gates is proven by the driver window and
tests/test_queries_vs_oracle.py; what parity alone can't prove is that a
gate still HITS data — a fixture or parameter drift that empties a
result would keep hashing equal (empty == empty) while gutting the
evidence.  Four texts carry documented parameter knobs precisely to stay
non-empty (q11/q18/q20/q22); this test pins that property for all 22."""

from __future__ import annotations

import pytest

from datafusion_tpch_spark.queries import tpch_full, tpch_spec
from datafusion_tpch_spark.sources.parquet_io import export_tpch_tables

SPEC_NAMES = sorted(s.name for s in tpch_spec.SPECS)


def test_all_22_canonical_texts_are_gates():
    assert SPEC_NAMES == sorted(f"q{i}_spec" for i in range(1, 23))


@pytest.mark.parametrize("name", SPEC_NAMES)
def test_spec_gate_returns_rows(spark, name):
    spec = {s.name: s for s in tpch_spec.SPECS}[name]
    assert spec.build(spark, "unused").limit(1).count() == 1


def _duck(sql: str):
    import duckdb

    return duckdb.connect().execute(sql).fetchall()


def test_division_free_adaptations_preserve_semantics(spark):
    """The spec gates clear avg/0.5x comparisons of division so both
    engines compare exact decimals (q17: 5*cnt*q < sum; q20:
    2*availqty > sum; q22: acctbal*count > sum).  Prove the algebra on
    the actual spec data: DuckDB evaluating the LITERAL canonical
    predicate must select the same rows / value as DuckDB evaluating
    the division-free gate text."""
    # ensure the warehouse exists
    export_tpch_tables(spark, tpch_spec.SPEC_SF, tpch_spec.SPEC_DIR)
    texts = {q: tpch_spec.bind_duckdb(t, tpch_spec.SPEC_DIR)
             for q, t in tpch_spec.TEXTS.items()}

    # q17 — value equality (scalar result)
    canonical_q17 = tpch_spec.bind_duckdb("""
    SELECT CAST(sum(l_extendedprice) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      AND p_container = 'MED BOX'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem
        WHERE l_partkey = p_partkey)
    """, tpch_spec.SPEC_DIR)
    got = _duck(texts["q17"])[0][0]
    want = _duck(canonical_q17)[0][0]
    assert got == want or abs(got - want) <= 1e-9 * max(abs(want), 1.0)

    # q20 — row-set equality
    canonical_q20 = texts["q20"].replace(
        "2 * ps_availqty > (", "ps_availqty > (SELECT 0.5 * x FROM (", 1
    ).replace(
        "AND l_shipdate >= date '1994-01-01' AND l_shipdate < date '1995-01-01'))",
        "AND l_shipdate >= date '1994-01-01' AND l_shipdate < date "
        "'1995-01-01') t(x)))",
        1,
    )
    assert _duck(canonical_q20) == _duck(texts["q20"])

    # q22 — row-set equality (same 1997 anti-join, literal avg comparison)
    canonical_q22 = texts["q22"].replace(
        """    AND c_acctbal * (
      SELECT count(*) FROM customer
      WHERE c_acctbal > 0.00
        AND substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
      > (
      SELECT sum(c_acctbal) FROM customer""",
        """    AND c_acctbal > (
      SELECT avg(c_acctbal) FROM customer""",
        1,
    )
    assert canonical_q22 != texts["q22"]
    assert _duck(canonical_q22) == _duck(texts["q22"])


def test_spec_texts_carry_only_documented_deviations():
    """A transcription typo in a spec text would pass the oracle (both
    engines run the SAME text), so literal drift is the one failure mode
    the hash gate can't see.  Diff each gate text's literals against the
    canonical tpch_full form: every difference must be a documented knob
    (q11 fraction, q18 quantity, q20 color, q22 lapsed-date) or an
    artifact of the documented exactness adaptations."""
    import collections
    import re

    can = tpch_full.queries(0.01)
    lit = re.compile(r"'[^']*'|\b\d+(?:\.\d+)?\b")
    # small integers / widths introduced or removed by the documented
    # CAST / division-clearing rewrites
    noise = {"10", "7.0", "1", "0", "2", "5", "65536", "32768",
             "100.0", "100.00", "0.00"}
    allowed = {
        "q11": ({"0.01"}, {"0.005"}),          # fraction knob
        "q17": ({"0.2"}, set()),               # division cleared
        "q18": ({"300"}, {"240"}),             # quantity knob
        "q20": ({"'forest%'", "0.5"}, {"'brown%'"}),  # color knob + cleared
        # lapsed-customer date knob + the IN list appearing a third time
        # in the division-free count subquery
        "q22": (set(), {"'13'", "'17'", "'18'", "'1997-01-01'", "'23'",
                        "'29'", "'30'", "'31'"}),
    }
    for i in range(1, 23):
        name = f"q{i}"
        spec_t = tpch_spec.TEXTS[name]
        a = collections.Counter(x for x in lit.findall(can[name])
                                if x not in noise)
        b = collections.Counter(x for x in lit.findall(spec_t)
                                if x not in noise)
        only_can = set((a - b).elements())
        only_spec = set((b - a).elements())
        want_can, want_spec = allowed.get(name, (set(), set()))
        assert only_can == want_can and only_spec == want_spec, (
            name, sorted(only_can), sorted(only_spec)
        )


@pytest.mark.parametrize("times, query, fragment", [
    (0, "q6", "avg(l_quantity)"),                    # absent
    (2, "q2", "r_name = 'EUROPE'"),                  # not unique
])
def test_derive_rejects_fragment_not_occurring_once(times, query, fragment):
    """An adaptation must hit exactly one place in the canonical text, so
    a drifted canonical text fails loudly instead of silently skipping
    (absent) or over-applying (repeated) its adaptation."""
    can = tpch_full.queries(tpch_spec.SPEC_SF)
    assert can[query].count(fragment) == times
    with pytest.raises(ValueError, match=rf"^{query}: fragment occurs {times} times"):
        tpch_spec.derive(can, {query: [(fragment, "x")]})


def test_derive_rejects_adaptation_without_canonical_text():
    with pytest.raises(ValueError, match="q23"):
        tpch_spec.derive(tpch_full.queries(tpch_spec.SPEC_SF), {"q23": []})
