"""Measurements taken from outside the program.

- ``Spans``: wall time around each call the benchmark makes into a layer,
  plus counts recorded at the same boundaries.
- ``PeakRss``: peak resident memory (``VmHWM``) of the driver process and
  of the Spark Python worker processes under it, read from ``/proc``.
- ``engine_metrics``: Spark's own counters for a set of job groups, read
  from the UI REST API (``/jobs``, ``/stages``, ``/sql?details=true``).
- ``mini_sentinel``: a fixed small Spark workload, the same shape as the
  mini-sentinel in ``bench.py``, that shows how fast the box is right now.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from collections import defaultdict

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Spans:
    """Accumulated wall time and counts per layer name for one pass."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t

    def count(self, name: str, value: int) -> None:
        self.counts[name] = int(value)


# --------------------------------------------------------------------------
# peak RSS of the Python processes
# --------------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields restart after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


class PeakRss:
    """Samples ``VmHWM`` of this process's Python descendants (the Spark
    Python daemon and its forked workers, started by the JVM child) every
    ``interval`` seconds. ``peak_mb`` is the driver's own ``VmHWM`` plus the
    largest worker ``VmHWM`` seen: the driver and one worker's peak, not a
    sum over forked workers that share most of their pages. ``reset``
    restarts the peaks from the current resident sizes."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _python_descendants(self) -> list[int]:
        kids = _children_map()
        todo, seen = list(kids.get(os.getpid(), [])), set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            todo.extend(kids.get(pid, []))
        return [pid for pid in seen if _is_python(pid)]

    def _sample(self) -> None:
        for pid in self._python_descendants():
            self.worker_kb = max(self.worker_kb, _status_kb(pid, "VmHWM"))

    def reset(self) -> None:
        """Writing 5 to ``clear_refs`` resets a process's ``VmHWM``."""
        for pid in [os.getpid(), *self._python_descendants()]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self.worker_kb = 0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def peak_mb(self) -> float:
        self._sample()
        return (_status_kb(os.getpid(), "VmHWM") + self.worker_kb) / 1024.0


# --------------------------------------------------------------------------
# Spark UI REST API
# --------------------------------------------------------------------------

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC_RE = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL-UI metric string as one number in base units (seconds or
    bytes). Aggregated metrics read ``total (min, med, max ...)\\n<total>
    (...)``; plain ones are a bare number such as ``1,234``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_RE.search(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as resp:
        return json.load(resp)


def _iso_s(stamp: str) -> float:
    """``2026-10-17T04:30:26.123GMT`` -> epoch seconds."""
    import datetime as dt

    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


SQL_NODE_METRICS = {
    # (node-name prefix, metric name) -> (engine metric, scale)
    ("Scan", "scan time"): ("spark.scan_time_s", 1.0),
    ("WholeStageCodegen", "duration"): ("spark.codegen_s", 1.0),
    ("AQEShuffleRead", "number of partitions"): ("spark.aqe_partitions", 1.0),
    ("", "time to run Python workers"): ("spark.python_worker_s", 1.0),
    ("", "time to initialize Python workers"): ("spark.python_worker_init_s", 1.0),
    ("", "data sent to Python workers"): ("spark.python_mb", 2.0**-20),
    ("", "data returned from Python workers"): ("spark.python_mb", 2.0**-20),
}


class SparkRest:
    """Reads the counters of the jobs tagged with given job groups."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def jobs_by_group(self, prefix: str) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = defaultdict(list)
        for job in _get(self.base, "/jobs"):
            group = job.get("jobGroup") or ""
            if group.startswith(prefix):
                out[group[len(prefix):]].append(job)
        return out

    def engine_metrics(self, jobs: list[dict]) -> dict[str, float]:
        """Spark's own counters summed over ``jobs``."""
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        m: dict[str, float] = defaultdict(float)
        m["spark.jobs"] = len(jobs)
        m["spark.job_wall_s"] = _union_s([
            (_iso_s(j["submissionTime"]), _iso_s(j["completionTime"]))
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        ])
        for st in _get(self.base, "/stages?status=complete"):
            if st["stageId"] not in stage_ids:
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += st.get("numCompleteTasks", 0)
            m["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            m["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["spark.input_mb"] += st.get("inputBytes", 0) / 2**20
            m["spark.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            m["spark.spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / 2**20
        for ex in self._new_sql_executions():
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                for metric in node.get("metrics", []):
                    for (prefix, mname), (key, scale) in SQL_NODE_METRICS.items():
                        if metric.get("name") == mname and name.startswith(prefix):
                            m[key] += parse_metric(metric.get("value", "")) * scale
        return dict(m)

    def _new_sql_executions(self) -> list[dict]:
        """SQL executions the UI recorded since the last call."""
        out = []
        while True:
            page = _get(
                self.base,
                f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=200",
            )
            out.extend(page)
            self._sql_seen += len(page)
            if len(page) < 200:
                return out

    def heap_peak_mb(self) -> float:
        peak = 0.0
        for ex in _get(self.base, "/allexecutors"):
            pm = ex.get("peakMemoryMetrics") or {}
            peak = max(peak, pm.get("JVMHeapMemory", 0) / 2**20)
        return peak


# --------------------------------------------------------------------------
# box speed
# --------------------------------------------------------------------------


def mini_sentinel(spark, cpus: int) -> float:
    """``bench.py``'s mini-sentinel shape: a hash fold over 50M ids and one
    small exchange. Single-shot: it reads the box at this moment."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.range(50_000_000, numPartitions=cpus).select(
        F.bit_xor(F.xxhash64("id")).alias("h")
    ).collect()
    spark.range(1 << 21, numPartitions=cpus).groupBy(
        (F.col("id") % (1 << 12)).alias("k")
    ).agg(F.bit_xor(F.xxhash64("id")).alias("s")).select(
        F.bit_xor(F.xxhash64("k", "s")).alias("h")
    ).collect()
    return time.perf_counter() - t
