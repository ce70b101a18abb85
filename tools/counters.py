"""Per-gate Spark counters and result hash, each gate run cold.

Usage::

    python tools/counters.py --sf 0.01 GATE [GATE ...] > side.jsonl
    python tools/counters.py --diff parent.jsonl change.jsonl

One ``local[4]`` session (``SPARK_GRAFT_CPUS=4``, so shuffle widths do
not follow the host) runs the gates in the order given, over the fixture
``sf<SF>`` beside the catalog's default one (``catalog.DEFAULT_SF_DIR``).
Before each gate it runs ``spark.catalog.clearCache()`` and
``session.forget(spark)``, so nothing the previous gate built or
persisted is reused; only on-disk artifacts (persisted indexes) survive.  A gate named twice runs twice: the second
row (``"run": 2``) is the warm serve of a persisted gate.  Each gate runs
under its own job group (the gate name, ``#<run>`` appended after the
first run) and is built and collected with ``toPandas()``.  One JSON row
per gate run is written to stdout.

The counters, read from Spark's status store through
``perfbench/layers.StatusStore`` and ``perfbench/layers.gate_counters``:

- ``jobs``: the jobs of the gate's job group, plus the jobs another
  thread submitted inside the gate's build+collect window (streaming
  micro-batches run under their query's own group).
- ``stages``: the executed stages of those jobs, that is stages whose
  status is COMPLETE.  A stage skipped because its shuffle output was
  reused does not count.  Stage IDs are not compared: they number every
  stage the session ever planned, so they depend on what ran before.
- ``tasks``: the completed tasks of those stages.
- ``result``: sha256 of ``tools/verify_oracle.canon(result)`` written as
  CSV, with its column dtypes.  Equal hashes mean equal results, row
  order aside.

``--diff A B`` names each gate run and counter that differs between two
such files, and each gate run found in only one of them; it exits 1 when
anything moved.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ("jobs", "stages", "tasks", "result")
_CPUS = 4


def _result_hash(pdf) -> str:
    from verify_oracle import canon

    c = canon(pdf)
    text = ",".join(f"{k}:{v}" for k, v in c.dtypes.items()) + "\n" + c.to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()


def measure(gates: list[str], sf: str) -> list[dict]:
    os.environ["SPARK_GRAFT_CPUS"] = str(_CPUS)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from perfbench import layers
    from datafusion_tpch_spark.catalog import DEFAULT_SF_DIR
    from datafusion_tpch_spark.queries import all_queries
    from datafusion_tpch_spark.session import build_session, forget

    spark = build_session("counters", master=f"local[{_CPUS}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    })
    store = layers.StatusStore(spark)
    sc = spark.sparkContext
    specs = all_queries()
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf}")
    seen: dict[str, int] = {}
    runs = []
    for name in gates:
        seen[name] = run = seen.get(name, 0) + 1
        group = name if run == 1 else f"{name}#{run}"
        spark.catalog.clearCache()
        forget(spark)
        sc.setJobGroup(group, group)
        t0 = time.time()
        pdf = specs[name].build(spark, sf_dir).toPandas()
        runs.append((name, run, group, (t0, time.time()), pdf))
    sc.setLocalProperty("spark.jobGroup.id", None)
    snap = store.snapshot()
    rows = []
    for name, run, group, window, pdf in runs:
        c = layers.gate_counters(snap, group, window)
        rows.append({"gate": name, "run": run, "jobs": c["spark.jobs"],
                     "stages": c["spark.stages"], "tasks": c["spark.tasks"],
                     "rows": len(pdf), "result": _result_hash(pdf)})
    spark.stop()
    return rows


def diff(a_path: str, b_path: str) -> list[str]:
    def load(path):
        with open(path) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        return {(r["gate"], r["run"]): r for r in rows}

    a, b = load(a_path), load(b_path)
    out = []
    for key in sorted(a.keys() | b.keys()):
        gate = f"{key[0]} run {key[1]}"
        if key not in a or key not in b:
            out.append(f"{gate}: only in {a_path if key in a else b_path}")
            continue
        out += [f"{gate}: {c} {a[key][c]} -> {b[key][c]}"
                for c in COUNTERS if a[key][c] != b[key][c]]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("gates", nargs="*")
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        moved = diff(*args.diff)
        print("\n".join(moved) if moved else "no counter moved")
        return 1 if moved else 0
    for row in measure(args.gates, args.sf):
        print(json.dumps(row, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
