"""Compare two sets of benchmark results.

Each set is a directory of run records (``perfbench/results`` or a copy of
it).  Per workload and end-to-end metric it prints both medians and
quartiles and a verdict against the bound in BENCHMARK.json; per-layer
metrics of traced runs are printed as deltas, so a change can be put on a
layer (more stages, or the same stages with more CPU).  When both sets
hold traced and untraced runs, the tracing overhead is printed too.  The
host calibration of each set is printed, so that a slower host window
shows.
"""

from __future__ import annotations

import glob
import json
import os

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_benchmark() -> dict:
    with open(BENCHMARK) as fh:
        return json.load(fh)


def load_runs(path: str) -> list[dict]:
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*-trace[01].json"),
                              recursive=True)):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def _values(runs, workload, trace, name):
    return [r["metrics"][name]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and name in r["metrics"]]


def verdict(base: list[float], new: list[float], better: str, bound: float) -> str:
    """'regressed', 'improved', 'unchanged' or 'unresolved'.

    A change counts only where it exceeds both sides' own spread; a
    worsening beyond the bound that the spread cannot resolve is
    'unresolved', unless every new run is worse than every base run."""
    _, mb, _ = stats.quartiles(base)
    _, mn, _ = stats.quartiles(new)
    if not mb:
        return "unresolved"
    worse = (mn - mb) / mb if better == "lower" else (mb - mn) / mb
    noise = max(stats.spread(base), stats.spread(new))
    if better == "lower":
        separated_worse, separated_better = min(new) > max(base), max(new) < min(base)
    else:
        separated_worse, separated_better = max(new) < min(base), min(new) > max(base)
    if worse > bound:
        return "regressed" if worse > noise or separated_worse else "unresolved"
    if -worse > noise or (worse < 0 and separated_better):
        return "improved"
    if noise > bound:
        return "unresolved"
    return "unchanged"


def _fmt_q(values):
    q1, med, q3 = stats.quartiles(values)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(values)}"


def compare_dirs(base_dir: str, new_dir: str) -> int:
    bench = load_benchmark()
    base, new = load_runs(base_dir), load_runs(new_dir)
    workloads = [w["name"] for w in bench["workloads"]]
    for w in workloads:
        print(f"== {w}")
        if not any(r["workload"] == w for r in base) or not any(
                r["workload"] == w for r in new):
            print("  no runs on one side")
            continue
        for m in bench["end_to_end"]:
            a = _values(base, w, 0, m["name"])
            b = _values(new, w, 0, m["name"])
            if not a or not b:
                continue
            v = verdict(a, b, m["better"], m["bound"])
            print(f"{m['name']:<16} {m['unit']:<5} base {_fmt_q(a):<34} "
                  f"new {_fmt_q(b):<34} bound {m['bound']:.0%}  {v}")
        deltas = []
        for m in bench["per_layer"]:
            a = _values(base, w, 1, m["name"])
            b = _values(new, w, 1, m["name"])
            if not a or not b:
                continue
            ma, mb = stats.quartiles(a)[1], stats.quartiles(b)[1]
            rel = (mb - ma) / ma if ma else (0.0 if mb == ma else float("inf"))
            deltas.append((m["name"], m["unit"], ma, mb, rel))
        for name, unit, ma, mb, rel in sorted(deltas, key=lambda d: -abs(d[4])):
            print(f"  layer {name:<24} {unit:<6} {ma:>12.5g} -> {mb:<12.5g} {rel:+.1%}")
        print(f"  attribution: {attribution({d[0]: d for d in deltas})}")
        for label, runs in (("base", base), ("new", new)):
            mine = [r for r in runs if r["workload"] == w]
            for name in ("wall.pass_s", "pass_cpu_s"):
                plain = [r["end_to_end"][name]["value"] for r in mine
                         if r["trace"] == 0 and name in r["end_to_end"]]
                traced = [r["end_to_end"][name]["value"] for r in mine
                          if r["trace"] == 1 and name in r["end_to_end"]]
                if plain and traced:
                    over = stats.quartiles(traced)[1] / stats.quartiles(plain)[1] - 1
                    print(f"  tracing overhead ({label}): {name} {over:+.1%}")
            # a slower host window shows here, not as a regression of the code
            cal = [c["miter_s"] for r in mine
                   for c in r["host"]["calibration"].values()]
            print(f"  host calibration ({label}): {_fmt_q(cal)} Miter/s")
    return 0


def attribution(deltas: dict) -> str:
    """One line naming the layer a change moved."""
    def moved(name, share=0.05):
        d = deltas.get(name)
        return d is not None and abs(d[4]) > share

    if not deltas:
        return "no traced runs on both sides"
    if moved("spark.stages", 0) or moved("spark.tasks", 0):
        s = deltas["spark.stages"]
        return f"plan changed: stages {s[2]:g} -> {s[3]:g} per pass"
    if moved("spark.executor_cpu_s"):
        return (f"same stages, executor CPU {deltas['spark.executor_cpu_s'][4]:+.0%}")
    if moved("queries.build_s"):
        return f"same stages, plan building {deltas['queries.build_s'][4]:+.0%}"
    if moved("python.run_s"):
        return f"same stages, Python workers {deltas['python.run_s'][4]:+.0%}"
    if moved("sources.gen_write_s"):
        return f"same stages, generate/write {deltas['sources.gen_write_s'][4]:+.0%}"
    return "no layer moved by more than 5%"
