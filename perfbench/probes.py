"""Measurement probes: host fingerprint, resident-memory sampler, and
before/after snapshots of Spark's status stores.

Spark figures come from the same AppStatusStore that
``cugraph_spark.plans.metrics.shuffle_totals`` reads (jobs and stages)
plus the SQL status store (the Arrow/pandas-UDF byte counters, which
Spark keeps only as SQL metrics). A probe that fails returns ``None``;
callers report that as unmeasured, never as zero.
"""

from __future__ import annotations

import json
import os
import platform
import re
import sys
import threading
import time
import traceback

import numpy as np

ARROW_SENT = "data sent to Python workers"
ARROW_RETURNED = "data returned from Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _meminfo_kb(field: str) -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def calibration_s(repeats: int = 5) -> float:
    """Median time of a fixed single-threaded numpy job (sort 512k seeded
    int64 plus a float reduction), so drift of the host between runs can
    be told apart from a change in the program."""
    data = np.random.default_rng(12345).integers(0, 1 << 40, 1 << 19)
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        np.sort(data, kind="stable")
        float(np.sqrt(data.astype(np.float64)).sum())
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def host_fingerprint(spark=None) -> dict:
    import pandas
    import pyarrow

    fp = {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "python": platform.python_version(),
        "numpy": np.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }
    if spark is not None:
        fp["spark"] = spark.version
        jvm = spark._jvm.java.lang.System
        fp["java"] = jvm.getProperty("java.version")
        conf = spark.sparkContext.getConf()
        fp["master"] = spark.sparkContext.master
        fp["spark.driver.memory"] = conf.get("spark.driver.memory", "1g")
        fp["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        fp["jvm_max_heap_mb"] = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory()) >> 20
    return fp


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _jvm_jit_thread(comm: str) -> bool:
    # HotSpot names them "C1 CompilerThread<n>" / "C2 CompilerThread<n>"
    return comm.startswith(("C1 Compiler", "C2 Compiler"))


def _ticks(stat_path: str, ended_children: bool) -> tuple[str, int]:
    """(comm, CPU ticks) of a process or thread; with ``ended_children``
    also the ticks of its children that have ended (a thread's stat
    repeats its process's figure for those)."""
    with open(stat_path) as f:
        head, rest = f.read().rsplit(")", 1)
    fields = rest.split()
    return head.split("(", 1)[1], sum(int(x) for x in fields[11:15 if ended_children else 13])


def cpu_s() -> tuple[float, float]:
    """(CPU, JIT CPU): user plus system CPU seconds of this process and
    its descendants (the JVM, the Python workers), ended ones included,
    and the part of it spent in the JVM's JIT compiler threads. Time the
    hypervisor stole is in neither."""
    tick = os.sysconf("SC_CLK_TCK")
    total = jit = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            total += _ticks(f"/proc/{pid}/stat", True)[1]
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, t = _ticks(f"/proc/{pid}/task/{tid}/stat", False)
                if _jvm_jit_thread(comm):
                    jit += t
        except (OSError, IndexError, ValueError):
            pass
    return total / tick, jit / tick


def steal_s() -> float | None:
    """CPU seconds the hypervisor gave to other guests, summed over this
    host's CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    (the driver JVM and the Python workers it forks) on a background
    thread; ``peak_mb`` is the largest sum seen so far."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peak_kb = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            total = sum(_rss_kb(p) for p in descendants(me))
            with self._lock:
                self._peak_kb = max(self._peak_kb, total)

    def peak_mb(self) -> float | None:
        with self._lock:
            return self._peak_kb / 1024.0 if self._peak_kb else None


def _defaults(obj, method: str, idx):
    return [getattr(obj, f"{method}$default${i}")() for i in idx]


def _parse_size(text: str) -> int | None:
    """Total of a formatted SQL size metric ("total (min, med, max ...)
    \\n12.3 MiB (...)" or plain "12.3 MiB")."""
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)", body)
    if not m:
        return None
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])


class SparkSnapshot:
    """Spark totals for one operator call. ``mark(group)`` tags every job
    the driver thread submits from then on with a job group and notes the
    last SQL execution id; ``collect(t0, t1)`` clears the tag and sums the
    group's jobs and stages and the newer executions' Arrow counters for
    a call that ran over wall-clock [t0, t1]. Job groups only label jobs;
    they do not change how a job runs.

    The status-store records are read as JSON through Spark's own Jackson
    mapper (one JVM call per list), not field by field over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._group = None
        self._exec0 = None
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _store(self):
        return self.spark._jsparkSession.sparkContext().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        sql = self._sql_store()
        n = int(sql.executionsCount())
        return int(sql.executionsList(n - 1, 1).head().executionId()) if n else -1

    def mark(self, group: str):
        self._group = group
        self.sc.setJobGroup(group, group)
        try:
            self._exec0 = self._last_execution_id()
        except Exception:  # JVM API drift: the Arrow counters read unmeasured
            traceback.print_exc(file=sys.stderr)
            self._exec0 = None

    def collect(self, t0: float, t1: float) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        out = {"spark": None, "arrow": None}
        try:
            out["spark"] = self._jobs(t0, t1)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if self._exec0 is not None:
            try:
                out["arrow"] = self._arrow()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        return out

    def _jobs(self, t0: float, t1: float) -> dict:
        store = self._store()
        empty = self.spark._jvm.java.util.ArrayList()
        jobs = [j for j in self._json(store.jobsList(empty)) if j["jobGroup"] == self._group]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stage_list = store.stageList(empty, *_defaults(store, "stageList", (2, 3, 4, 5)))
        stages = [
            st for st in self._json(stage_list)
            if st["stageId"] in stage_ids and st["status"] != "SKIPPED"
        ]
        spans = sorted(
            (max(j["submissionTime"] / 1000.0, t0),
             min((j["completionTime"] or t1 * 1000.0) / 1000.0, t1))
            for j in jobs if j["submissionTime"] is not None
        )
        busy, end = 0.0, t0
        for a, b in spans:
            a = max(a, end)
            if b > a:
                busy += b - a
                end = b
        wall = max(t1 - t0, 1e-9)
        run_s = sum(st["executorRunTime"] for st in stages) / 1000.0
        return {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] for j in jobs),
            "stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] for j in jobs),
            "tasks_failed": sum(j["numFailedTasks"] for j in jobs),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
            "gc_s": sum(st["jvmGcTime"] for st in stages) / 1000.0,
            "shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in stages),
            "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stages),
            "spill_bytes": sum(
                st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages
            ),
            "driver_gap_s": max(wall - busy, 0.0),
            "busy_share": run_s / (wall * self.cores),
        }

    def _arrow(self) -> dict:
        """Sum the pandas-UDF byte counters of the SQL executions newer
        than the mark, read from the tail of the store (ids ascend)."""
        sql = self._sql_store()
        n = int(sql.executionsCount())
        k = 64
        while True:
            start = max(0, n - k)
            tail = self._json(sql.executionsList(start, n - start))
            if start == 0 or not tail or tail[0]["executionId"] <= self._exec0:
                break
            k *= 2
        sent = returned = 0
        for ex in tail:
            if ex["executionId"] <= self._exec0:
                continue
            values = ex.get("metricValues") or {}
            # adaptive re-plans list a node's metrics again; count each
            # accumulator once
            wanted = {
                m["accumulatorId"]: m["name"]
                for m in ex["metrics"] if m["name"] in (ARROW_SENT, ARROW_RETURNED)
            }
            for acc, name in wanted.items():
                size = _parse_size(str(values.get(str(acc), "")))
                if size is None:
                    continue
                if name == ARROW_SENT:
                    sent += size
                else:
                    returned += size
        return {"bytes_to_python": sent, "bytes_from_python": returned}
