"""Tests of the benchmark's own logic (no Spark session).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, self_time_by_name, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    return compare.load_benchmark()


def test_benchmark_schema(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"]
        assert len(w["why"]) <= 200
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_workloads_match_benchmark(bench):
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_metric_names_match_the_code(bench):
    """The names run.py emits are exactly those BENCHMARK.json declares."""
    import run

    warm = {"index": 1, "gen": [], "batch_ms": [3.0],
            "gates": [{"build_s": 0.1, "collect_s": 0.2, "latency_s": 0.3, "cpu_s": 0.5}],
            "wall_s": 0.3, "cpu_s": 0.5, "trace_read_s": 0.01,
            "layers": {k: 1.0 for k in (
                "spark.jobs", "spark.stages", "spark.tasks",
                "spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
                "spark.input_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                "spark.spill_mb", "python.rows_sent", "python.mb_sent",
                "python.rows_returned", "python.run_s", "cache.storage_mb",
                "cache.rdds", "streaming.batches", "streaming.input_rows")}}
    first = {**warm, "index": 0, "gen": [{"s": 1.0, "rows": 10, "bytes": 100}]}
    split = {"session_s": 1.0, "catalog_s": 0.5, "warmup_s": 0.5, "total_s": 2.0}
    e2e, info = run.end_to_end(2.5, [first, warm, warm], 100.0)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert [u for _, u in e2e.values()] == [m["unit"] for m in bench["end_to_end"]]
    assert e2e["setup_s"][0] == 2.5
    assert e2e["pass_cpu_s"][0] == 0.5 and info["unbounded"]["wall.pass_s"][0] == 0.3
    layer = run.per_layer(split, [first, warm, warm], cores=4, unbounded=info["unbounded"])
    assert list(layer) == [m["name"] for m in bench["per_layer"]]
    assert [u for _, u in layer.values()] == [m["unit"] for m in bench["per_layer"]]
    assert layer["sources.bytes_per_row"][0] == 10.0
    assert layer["spark.busy_ratio"][0] == pytest.approx(1.0 / (4 * 0.2))


def test_span_parent_links():
    t = Tracer("r1")
    with t.span("run"):
        with t.span("pass", index=0):
            with t.span("gate", gate="q1") as g:
                with t.span("build"):
                    pass
                with t.span("collect"):
                    pass
                g["attrs"]["spark.stages"] = 3
        with t.span("pass", index=1):
            pass
    by_id = {s["id"]: s for s in t.spans}
    names = {s["id"]: s["name"] for s in t.spans}
    assert [names[s["parent"]] if s["parent"] is not None else None
            for s in t.spans] == [None, "run", "pass", "gate", "gate", "run"]
    assert all(s["run_id"] == "r1" for s in t.spans)
    for s in t.spans:
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    assert by_id[2]["attrs"] == {"gate": "q1", "spark.stages": 3}


def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_arithmetic():
    spans = [
        _span(0, None, 0.0, 10.0, "run"),
        _span(1, 0, 1.0, 4.0, "pass"),
        _span(2, 0, 3.0, 6.0, "pass"),     # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0, "gate"),
        _span(4, 0, 9.0, 12.0, "pass"),    # runs past its parent: clipped
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(0.5)
    assert self_time_by_name(spans)["pass"] == pytest.approx(2.5 + 3.0 + 3.0)


def test_seed_to_order_mapping():
    gates = [f"g{i}" for i in range(8)]
    a = stats.gate_order(gates, 7, 0)
    assert sorted(a) == gates
    assert a == stats.gate_order(gates, 7, 0)
    assert stats.gate_order(gates, 7, 1) != a
    orders = {tuple(stats.gate_order(gates, s, 0)) for s in range(20)}
    assert len(orders) > 15
    # pinned: the order is a run's input and must not drift between versions
    assert stats.gate_order(["a", "b", "c", "d"], 1, 0) == ["d", "b", "c", "a"]


def test_tail_percentile_rule():
    assert stats.tail(list(range(39))) is None
    p, v = stats.tail([float(i) for i in range(1, 41)])
    assert (p, v) == (75, 30.0)
    p, _ = stats.tail([1.0] * 1000)
    assert p == 99


def test_quartile_spread():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = stats.quartiles(vals)
    assert med == 3.0 and (q3 - q1) / med == pytest.approx(stats.spread(vals))


def test_verdicts():
    base = [10.0, 10.1, 9.9, 10.0, 10.2]
    assert compare.verdict(base, [12.5, 12.6, 12.4, 12.5, 12.7], "lower", 0.1) == "regressed"
    assert compare.verdict(base, [8.0, 8.1, 7.9, 8.0, 8.2], "lower", 0.1) == "improved"
    assert compare.verdict(base, [10.0, 10.1, 10.0, 9.9, 10.1], "lower", 0.1) == "unchanged"
    noisy = [6.0, 14.0, 8.0, 12.0, 10.0]
    assert compare.verdict(noisy, [11.5, 12.0, 11.0, 7.0, 16.0], "lower", 0.1) == "unresolved"
    assert compare.verdict(base, [12.5, 12.6, 12.4, 12.5, 12.7], "higher", 0.1) == "improved"


def test_metric_value_parsing():
    assert layers.metric_value("1,234") == 1234
    assert layers.metric_value("1.5 KiB") == 1536
    assert layers.metric_value("total (min, med, max (stageId: taskId))\n2.0 MiB "
                               "(0.5 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 3))") == 2 * layers.MB
    assert layers.metric_value("3.2 s") == pytest.approx(3.2)
    assert layers.metric_value("120 ms") == pytest.approx(0.12)


def test_python_rows_follow_edges_past_unmetered_nodes():
    ex = {
        "successJobIds": [5],
        "nodes": [
            {"nodeId": 0, "nodeName": "MapInPandas", "metrics": [
                {"name": "data sent to Python workers", "value": "1.0 MiB"},
                {"name": "number of output rows", "value": "7"}]},
            {"nodeId": 1, "nodeName": "Project", "metrics": []},
            {"nodeId": 2, "nodeName": "Scan parquet", "metrics": [
                {"name": "number of output rows", "value": "40"}]},
        ],
        "edges": [{"fromId": 1, "toId": 0}, {"fromId": 2, "toId": 1}],
    }
    out = layers._python_counters([ex], {5})
    assert out["python.rows_sent"] == 40 and out["python.rows_returned"] == 7
    assert out["python.mb_sent"] == 1.0
    assert layers._python_counters([ex], {6})["python.rows_sent"] == 0


def test_benchmark_file_is_json():
    with open(compare.BENCHMARK) as fh:
        assert json.load(fh)["paths"] == ["perfbench"]


def test_warm_pass_count_is_fixed_by_seconds():
    import run

    assert run.warm_passes(10) == 8
    assert run.warm_passes(1) == 2
    assert run.warm_passes(60) == 48


def test_exact_counts_has_no_fallback():
    from workloads import exact_counts

    assert exact_counts(0.01)["lineitem"] > 0
    with pytest.raises(KeyError):
        exact_counts(0.0123)


def test_fixture_table_ignores_other_tables(tmp_path):
    import pyarrow.parquet as pq

    import fixture

    alone = fixture.build(str(tmp_path / "a"), 0.01, ("documents",))
    both = fixture.build(str(tmp_path / "b"), 0.01, ("events", "documents"))
    assert os.listdir(alone) == ["documents.parquet"]
    assert pq.read_table(f"{alone}/documents.parquet").equals(
        pq.read_table(f"{both}/documents.parquet"))
