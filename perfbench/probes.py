"""Host-side probes: process-tree CPU and RSS from ``/proc``, host noise,
a Storage wrapper that times the lineage commit seam, and Spark's own
stage and SQL metrics from the driver's local REST API.

Nothing here reaches into the program: the Storage wrapper is passed through
``run_extraction_job``'s public ``storage=`` parameter, and the Spark metrics
come from the UI the traced run enables.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants: the driver, the JVM it launched and
    the Python daemon and workers the JVM forks."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """User+sys CPU seconds of the process tree, including reaped children
    (``cutime``/``cstime``), so workers that exited still count."""
    total = 0
    for p in tree_pids():
        f = _stat_fields(p)
        if f:  # fields after the comm: utime=11, stime=12, cutime=13, cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for p in pids or tree_pids():
        f = _stat_fields(p)
        if f:
            total += int(f[21])  # rss in pages
    return total * _PAGE / 2**20


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread while a
    ``with`` block runs. The tree is re-listed every few samples, so Python
    workers spawned during the block are picked up."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = tree_pids(), 0
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            if self._stop.wait(self.interval_s):
                return
            n += 1
            if n % 10 == 0:
                pids = tree_pids()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def host_noise() -> dict:
    """Host-wide CPU figures from ``/proc/stat`` (seconds since boot): busy
    time of every CPU and the steal share of it, plus the 1-minute load."""
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal ...
        v = [int(x) for x in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    busy = v[0] + v[1] + v[2] + v[5] + v[6] + v[7]
    return {"busy_s": busy / _CLK, "steal_s": v[7] / _CLK, "load1": load1}


class Spans:
    """In-memory spans ``(name, start, end)``; the run writes them to its
    results file when it ends."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float]] = []

    def timed(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.items.append((name, t0, time.perf_counter()))

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e in self.items if n == name)


class TimedStorage:
    """Wraps a lineage Storage and records a span around each seam call.
    ``overwrite_data_partitions`` includes the lazy extraction it triggers;
    ``append_lineage`` includes the metrics read-back of the wave."""

    def __init__(self, inner, spans: Spans) -> None:
        self._inner, self._spans = inner, spans

    def overwrite_data_partitions(self, df) -> None:
        self._spans.timed("lineage.wave_write", self._inner.overwrite_data_partitions, df)

    def append_lineage(self, df) -> None:
        self._spans.timed("lineage.wave_commit", self._inner.append_lineage, df)

    def read_lineage(self):
        return self._spans.timed("lineage.resume_check", self._inner.read_lineage)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum/marker files."""
    n = size = 0
    for d, _, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, fn))
    return n, size


# -- Spark's own metrics, from the driver UI's REST API ---------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


class SparkRest:
    """Reads stage and SQL metrics of the running application from the
    driver's local UI (``spark.ui.enabled=true`` in the traced run only)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def max_ids(self) -> tuple[int, int]:
        stages = _get(f"{self.base}/stages")
        sql = _get(f"{self.base}/sql?details=false&length=100000")
        return (
            max((s["stageId"] for s in stages), default=-1),
            max((e["id"] for e in sql), default=-1),
        )

    def stage_metrics(self, after_stage: int) -> dict:
        stages = [
            s for s in _get(f"{self.base}/stages")
            if s["stageId"] > after_stage and s["status"] == "COMPLETE"
        ]
        out = {
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spark.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ) / 2**20,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.task_skew": 1.0,
        }
        if stages:
            slow = max(stages, key=lambda s: s["executorRunTime"])
            q = _get(
                f"{self.base}/stages/{slow['stageId']}/{slow['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            med, mx = q["executorRunTime"]
            out["spark.task_skew"] = mx / med if med > 0 else 1.0
        return out

    def python_metrics(self, after_sql: int) -> dict:
        """Summed SQL metrics of every ArrowEvalPython node in executions
        after ``after_sql``."""
        sums = {"python_total_s": 0.0, "python_boot_s": 0.0,
                "arrow_sent_mb": 0.0, "arrow_received_mb": 0.0}
        names = {
            "time to run Python workers": ("python_total_s", _secs),
            "time to start Python workers": ("python_boot_s", _secs),
            "time to initialize Python workers": ("python_boot_s", _secs),
            "data sent to Python workers": ("arrow_sent_mb", _mib),
            "data returned from Python workers": ("arrow_received_mb", _mib),
        }
        for e in _get(f"{self.base}/sql?details=true&planDescription=false&length=100000"):
            if e["id"] <= after_sql:
                continue
            for node in e.get("nodes", []):
                if "ArrowEvalPython" not in node["nodeName"]:
                    continue
                for m in node.get("metrics", []):
                    if m["name"] in names:
                        key, parse = names[m["name"]]
                        sums[key] += parse(m["value"])
        return {f"pipeline.{k}": v for k, v in sums.items()}


_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([a-zA-Z]+)")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _first_total(value: str) -> tuple[float, str]:
    # "total (min, med, max (stageId: taskId))\n1.2 s (...)" or plain "1.2 s"
    line = value.split("\n")[-1] if "\n" in value else value
    m = _NUM.search(line)
    if not m:
        return 0.0, ""
    return float(m.group(1).replace(",", "")), m.group(2)


def _secs(value: str) -> float:
    v, unit = _first_total(value)
    return v * _TIME_UNITS.get(unit, 0.0)


def _mib(value: str) -> float:
    v, unit = _first_total(value)
    return v * _SIZE_UNITS.get(unit, 0) / 2**20
