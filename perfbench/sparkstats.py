"""Readers for what Spark and the OS already record.

- ``parse_metric``: Spark's formatted SQL-metric strings to numbers.
- ``read_jobs`` / ``read_stages`` / ``read_sql``: the core and SQL status
  stores through py4j (both are populated with ``spark.ui.enabled=false``).
- ``ProgressCollector``: a streaming-query listener keeping each
  micro-batch's ``durationMs`` breakdown and ``stateOperators`` fields.
- ``process_cpu``: CPU time used so far by the driver Python process,
  the driver JVM and everything that descends from it.
- ``RssSampler``: peak memory of the driver Python process, the driver
  JVM and its Python daemon and workers.
- ``tail_percentile``: the highest percentile with ten samples beyond it.
- ``cpu_times`` / ``steal_share``: CPU steal on the host, to explain
  outlying runs.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50, "EiB": 2.0**60,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric in base units: bytes for sizes,
    seconds for timings, a plain number for counts.

    Handles the single-value form (``"580.6 KiB"``, ``"4 ms"``,
    ``"151,305"``) and the per-task form whose first line is the header
    ``total (min, med, max (stageId: taskId))`` and whose second line
    starts with the total.  An average metric (header ``(min, med, max
    ...)``) has no total and yields its median task value."""
    if not text:
        return 0.0
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith(("total", "(min")) and len(lines) > 1 else lines[0]
    if lines[0].startswith("(min"):
        # an average metric has no total: take the median task's value
        line = line.lstrip("(").split(",")[1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS.get(unit, 1.0)


#: A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """``(p, value)`` for the highest whole percentile ``p`` whose
    nearest-rank sample still has at least ``TAIL_BEYOND`` samples above
    it in rank; None when there are too few samples for any percentile."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    for p in range(99, -1, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_BEYOND:
            return p, ordered[rank - 1]
    return None


# -- status stores ---------------------------------------------------------

def _jlist(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def read_jobs(spark, since: float) -> list[dict]:
    """Every retained Spark job submitted at or after *since* (epoch
    seconds): id, submit/complete epoch seconds and stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _jlist(spark, store.jobsList(None)):
        submitted = _epoch(j.submissionTime())
        if submitted is None or submitted < since:
            continue
        out.append({
            "id": j.jobId(),
            "submitted": submitted,
            "completed": _epoch(j.completionTime()),
            "stages": list(_jlist(spark, j.stageIds())),
        })
    return sorted(out, key=lambda j: j["id"])


_STAGE_FIELDS = {
    # name: (getter, scale to base unit)
    "tasks": ("numCompleteTasks", 1.0),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_s": ("shuffleWriteTime", 1e-9),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1.0),
    "peak_mem_bytes": ("peakExecutionMemory", 1.0),
}


def read_stages(spark) -> dict[int, dict]:
    """Per stage id, the task totals of its completed attempts."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out: dict[int, dict] = {}
    for s in _jlist(spark, stages):
        if str(s.status()) != "COMPLETE":
            continue
        row = out.setdefault(s.stageId(), {k: 0.0 for k in _STAGE_FIELDS})
        for k, (getter, scale) in _STAGE_FIELDS.items():
            row[k] += getattr(s, getter)() * scale
    return out


def read_sql(spark, since: float, keep, metric_names: set[str]) -> list[dict]:
    """Every retained SQL execution submitted at or after *since*
    (epoch seconds): id, its job ids, and for each plan node whose name
    passes *keep*, the parsed totals of its metrics named in
    *metric_names*.  Each py4j call costs about a millisecond, so only
    those nodes and metrics are read."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _jlist(spark, store.executionsList()):
        submitted = e.submissionTime() / 1000.0
        if submitted < since:
            continue
        eid = e.executionId()
        values = None
        nodes = []
        for n in _jlist(spark, store.planGraph(eid).allNodes()):
            name = n.name().strip()
            if not keep(name):
                continue
            if values is None:
                values = _jlist(spark, store.executionMetrics(eid))
            metrics = {}
            for m in _jlist(spark, n.metrics()):
                label = m.name()
                if label in metric_names:
                    metrics[label] = parse_metric(values.get(m.accumulatorId()))
            nodes.append((name, metrics))
        out.append({
            "id": eid,
            "submitted": submitted,
            "jobs": sorted(int(k) for k in _jlist(spark, e.jobs()).keySet()),
            "nodes": nodes,
        })
    return out


#: How long to wait for Spark's listener events to arrive, in seconds.
EVENT_WAIT_S = 30.0


def wait_idle(spark) -> None:
    """Wait until every retained job and SQL execution has completed in
    the status stores, which the listener bus fills asynchronously."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + EVENT_WAIT_S
    while time.monotonic() < deadline:
        jobs = _jlist(spark, store.jobsList(None))
        execs = _jlist(spark, sql.executionsList())
        if all(j.completionTime().isDefined() for j in jobs) and all(
                e.completionTime().isDefined() for e in execs):
            return
        time.sleep(0.05)
    raise TimeoutError("status stores did not settle")


# -- streaming progress ----------------------------------------------------

class ProgressCollector(StreamingQueryListener):
    """Records every micro-batch: its epoch-second trigger time, its
    ``durationMs`` breakdown (ms), ``numInputRows`` and the summed
    ``stateOperators`` fields.  Register with
    ``spark.streams.addListener``."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "name": p.name,
            "at": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "duration_ms": dict(p.durationMs or {}),
            "input_rows": p.numInputRows or 0,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_partitions": sum(o.numShufflePartitions for o in ops),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def wait_terminated(self, n: int) -> None:
        """Wait until *n* queries have reported termination; events
        reach Python asynchronously, after the query has ended."""
        deadline = time.monotonic() + EVENT_WAIT_S
        while self.terminated < n and time.monotonic() < deadline:
            time.sleep(0.05)


# -- host ------------------------------------------------------------------

def cpu_times() -> list[int]:
    """The host's aggregate CPU times from ``/proc/stat``, in ticks:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two ``cpu_times`` readings
    that the hypervisor gave to other machines."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


# -- memory ----------------------------------------------------------------

#: How often the RSS sampler polls, in seconds.
RSS_PERIOD_S = 0.25


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _proc_table() -> dict[int, tuple[list[str], bytes]]:
    """Every live process: its ``/proc/<pid>/stat`` fields after the
    command name (``[0]`` is the state, ``[1]`` the parent pid), and its
    command line."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                out[int(d)] = (fields, f.read())
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
    return out


def _roles(table) -> tuple[set[int], set[int], set[int]]:
    """``(jvm, python, other)`` among the processes of *table* that
    descend from this one: its direct children (the driver JVM), the
    PySpark daemon and worker processes, and every other descendant."""
    me = os.getpid()
    ppid = {pid: int(fields[1]) for pid, (fields, _) in table.items()}

    def descends(pid: int) -> bool:
        seen = set()
        while pid in ppid and pid not in seen:
            seen.add(pid)
            pid = ppid[pid]
            if pid == me:
                return True
        return False

    jvm = {pid for pid, parent in ppid.items() if parent == me}
    rest = {pid for pid in ppid if pid not in jvm and descends(pid)}
    python = {pid for pid in rest
              if b"pyspark.daemon" in table[pid][1] or b"pyspark.worker" in table[pid][1]}
    return jvm, python, rest - python


def _tracked() -> tuple[set[int], set[int]]:
    """``(jvm, python)``: the driver JVM and the PySpark daemon and
    worker processes that descend from it.  Other short-lived forks of
    the JVM are left out: until they exec they report the JVM's resident
    set."""
    jvm, python, _ = _roles(_proc_table())
    return jvm, python


def descendants() -> set[int]:
    """Every live process that descends from this one."""
    jvm, python, other = _roles(_proc_table())
    return jvm | python | other


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def process_cpu() -> dict[str, float]:
    """CPU seconds (user + system) used so far, by role: ``driver_python``
    (this process), ``jvm`` (the driver JVM and any short-lived process
    it forked) and ``pyspark`` (the PySpark daemon and workers).  A
    descendant that has exited counts through its parent's reaped-child
    times.  The kernel leaves the hypervisor's steal out of these times,
    so they measure the work done, not how long the host made it wait."""
    table = _proc_table()
    jvm, python, other = _roles(table)

    def ticks(pids, children: bool = True) -> int:
        last = 15 if children else 13  # utime, stime[, cutime, cstime]
        return sum(int(x) for pid in pids for x in table[pid][0][11:last])

    return {"driver_python": ticks({os.getpid()}, children=False) * _TICK_S,
            "jvm": ticks(jvm | other) * _TICK_S,
            "pyspark": ticks(python) * _TICK_S}


class RssSampler:
    """Peak memory of the running engine: polls the tracked processes
    every ``RSS_PERIOD_S`` from a background thread and keeps the highest
    sum of their ``VmHWM`` over the processes alive at one poll.  A
    worker that has exited no longer counts, so workers that ran one
    after another are not added up.  Pages a forked worker still shares
    with the daemon count once in each.  ``start`` resets this process's
    own high-water mark, so what the driver Python did before (input
    derivation, the DuckDB oracle) does not count."""

    def __init__(self):
        self.peak_kb: dict[str, int] = {"peak_rss": 0}  # kB by role at the peak
        self.pyspark_processes = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm, python = _tracked()
        self.seen |= jvm | python
        parts = {
            "driver_python": _status_kb(os.getpid(), "VmHWM:"),
            "jvm": sum(_status_kb(p, "VmHWM:") for p in jvm),
            "pyspark": sum(_status_kb(p, "VmHWM:") for p in python),
        }
        if sum(parts.values()) > self.peak_kb["peak_rss"]:
            self.peak_kb = {"peak_rss": sum(parts.values()), **parts}
            self.pyspark_processes = len(python)

    def _loop(self) -> None:
        self._sample()
        while not self._stop.wait(RSS_PERIOD_S):
            self._sample()

    def start(self) -> None:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")  # reset VmHWM to the current RSS
        self._thread.start()

    def stop(self) -> None:
        """Stop polling; read ``peak_mb`` and ``pids`` only after this."""
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> dict[str, float]:
        """The peak sum and its parts at that poll, in MB: ``peak_rss``,
        ``driver_python``, ``jvm`` and ``pyspark``."""
        return {k: v * 1024 / 1e6 for k, v in self.peak_kb.items()}

    def pids(self) -> set[int]:
        return set(self.seen)
