"""Per-layer readings taken from outside the engine.

- ``StatusStore`` reads Spark's status store over the REST API of the
  driver's UI (``127.0.0.1``), per job group and per time window.
- ``StreamingCounter`` is a ``StreamingQueryListener`` counting
  micro-batches.
- ``RssSampler`` follows the resident memory, and ``tree_cpu_s`` the CPU
  time, of this process and its descendants (the driver JVM and the
  Python workers).
- ``host_info`` records what the numbers depend on.
"""

from __future__ import annotations

import datetime
import json
import os
import platform
import re
import threading
import time
import urllib.request

MB = 1024 * 1024
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_SENT = "data sent to Python workers"
_PYTHON_RUN = "time to run Python workers"
_ROWS = "number of output rows"


def _rest_time(s: str) -> float:
    """REST timestamps ("2026-01-01T00:00:00.000GMT") -> epoch seconds."""
    dt = datetime.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def metric_value(text: str) -> float:
    """Total of one SQL metric as the REST API renders it: a plain count
    ("1,234"), a size ("1.2 MiB") or a time ("3.4 s"), optionally under a
    "total (min, med, max ...)" header line."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


class StatusStore:
    """Reads the driver's status store through its REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._jsc = sc._jsc

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the jobs that just finished."""
        self._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        self.drain()
        return {
            "jobs": self._get("/jobs"),
            "stages": {s["stageId"]: s for s in self._get("/stages")},
            "sql": self._get("/sql?details=true&planDescription=false&length=100000"),
            "storage": self._get("/storage/rdd"),
        }


def gate_counters(snap: dict, group: str, window: tuple[float, float]) -> dict:
    """Counters of the jobs of one gate: those in its job group plus those
    submitted inside its time window by another thread (streaming
    micro-batches run under their query's own group)."""
    lo, hi = window
    jobs = [
        j for j in snap["jobs"]
        if j.get("jobGroup") == group
        or ("submissionTime" in j and "/" not in (j.get("jobGroup") or "")
            and lo <= _rest_time(j["submissionTime"]) <= hi)
    ]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [snap["stages"][s] for s in stage_ids
              if s in snap["stages"] and snap["stages"][s]["status"] == "COMPLETE"]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                              for s in stages) / MB,
    }
    out.update(_python_counters(snap["sql"], job_ids))
    return out


def _python_counters(executions: list[dict], job_ids: set[int]) -> dict:
    rows_sent = mb_sent = rows_returned = run_s = 0.0
    for ex in executions:
        ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ran & job_ids:
            continue
        nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
        for node in nodes.values():
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if _PYTHON_SENT not in metrics:
                continue
            mb_sent += metric_value(metrics[_PYTHON_SENT]) / MB
            rows_returned += metric_value(metrics.get(_ROWS, "0"))
            run_s += metric_value(metrics.get(_PYTHON_RUN, "0"))
            rows_sent += _input_rows(node["nodeId"], nodes, ex.get("edges", []))
    return {"python.rows_sent": rows_sent, "python.mb_sent": mb_sent,
            "python.rows_returned": rows_returned, "python.run_s": run_s}


def _input_rows(node_id: int, nodes: dict, edges: list[dict]) -> float:
    """Rows entering a node: the output rows of the nearest descendants
    that count rows (operators such as Project keep no row metric)."""
    total, frontier, seen = 0.0, [node_id], {node_id}
    while frontier:
        nid = frontier.pop()
        for e in edges:
            if e["toId"] != nid or e["fromId"] in seen:
                continue
            seen.add(e["fromId"])
            child = nodes.get(e["fromId"], {})
            rows = {m["name"]: m["value"] for m in child.get("metrics", [])}.get(_ROWS)
            if rows is None:
                frontier.append(e["fromId"])
            else:
                total += metric_value(rows)
    return total


def cache_counters(snap: dict) -> dict:
    rdds = snap["storage"]
    return {
        "cache.rdds": len(rdds),
        "cache.storage_mb": sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                                for r in rdds) / MB,
    }


def make_streaming_counter(spark):
    """A registered listener that records each micro-batch's input rows
    and duration."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamingCounter(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, int, float]] = []  # (t, rows, ms)
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._lock:
                self.batches.append(
                    (time.time(), int(p.numInputRows), float(p.batchDuration)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[tuple[float, int, float]]:
            with self._lock:
                out, self.batches = self.batches, []
            return out

    counter = StreamingCounter()
    spark.streams.addListener(counter)
    return counter


def _process_tree(root: int) -> set[int]:
    """``root`` and every descendant process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, frontier = {root}, [root]
    while frontier:
        for pid in children.get(frontier.pop(), []):
            if pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, reaped
    children included.  Unlike wall time this leaves out time the
    hypervisor steals from the guest, which varies from minute to minute."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total * _TICK_S


def _rss_kb(pids: set[int]) -> dict[int, int]:
    """Resident kB per live process of ``pids``."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


def _command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return "?"
    if b"pyspark.daemon" in argv or b"pyspark.worker" in argv:
        return "python_worker"
    return os.path.basename(argv[0].decode(errors="replace")) or "?"


# the RSS sampler's period, and how many samples reuse one listing of the
# process tree (the costly part)
RSS_INTERVAL_S = 0.2
RSS_RESCAN = 5


class RssSampler:
    """Background thread sampling the resident memory of this process and
    its descendants every ``RSS_INTERVAL_S``."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # command -> kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, n, tree = os.getpid(), 0, set()
        while not self._stop.is_set():
            if n % RSS_RESCAN == 0:
                tree = _process_tree(me)
            n += 1
            rss = _rss_kb(tree)
            total = sum(rss.values())
            if total > self.peak_kb:
                self.peak_kb = total
                parts: dict[str, int] = {}
                for pid, kb in rss.items():
                    name = _command(pid)
                    parts[name] = parts.get(name, 0) + kb
                self.peak_parts = parts
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def host_info(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
