"""Counters read from outside the program: Spark's status stores, the
driver JVM's management beans, and ``/proc``.

Everything here reads state the engine already keeps; nothing is enabled
in the program to produce it. Reads happen between timed regions.
"""

from __future__ import annotations

import os
import re

PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """Value of one SQL metric as the SQL status store renders it:
    ``"1,234"``, ``"136.3 KiB"``, ``"2.0 s"``, or the per-task form
    ``"total (min, med, max ...)\\n8.8 s (2.2 s, ...)"``. Sizes come back in
    bytes, times in seconds."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1].strip()
    m = re.match(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Job, stage, task and SQL-plan counters of one SparkSession."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores reflect all finished work."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_mark(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def sql_mark(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def stages_since(self, job_mark: int) -> dict:
        """Stage and task totals of the jobs started after ``job_mark``."""
        tot = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
            "task_skew": 1.0, "input_bytes": 0, "input_rows": 0,
            "output_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0,
        }
        stage_ids: set[int] = set()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(None):
            if job_id <= job_mark:
                continue
            tot["jobs"] += 1
            stage_ids.update(int(s) for s in _seq(self._store.job(job_id).stageIds()))
        quantiles = getattr(self._store, "stageData$default$5")()
        for sid in sorted(stage_ids):
            for sd in _seq(self._store.stageData(sid, False, None, False, quantiles)):
                if sd.status().toString() != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["task_busy_s"] += sd.executorRunTime() / 1e3
                tot["input_bytes"] += sd.inputBytes()
                tot["input_rows"] += sd.inputRecords()
                tot["output_bytes"] += sd.outputBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spill_bytes"] += sd.diskBytesSpilled()
                if sd.numCompleteTasks() >= 2:
                    durs = sorted(
                        t.duration().get()
                        for t in _seq(self._store.taskList(sid, sd.attemptId(), 100_000))
                        if t.duration().isDefined()
                    )
                    med = durs[len(durs) // 2] if durs else 0
                    if med > 0:
                        tot["task_skew"] = max(tot["task_skew"], durs[-1] / med)
        return tot

    def plans_since(self, sql_mark: int) -> dict:
        """ReusedExchange count and Python-node SQL metrics of the SQL
        executions started after ``sql_mark``."""
        tot = {"reused": 0, "py_sent_bytes": 0.0,
               "py_recv_bytes": 0.0, "py_rows": 0.0, "py_busy_s": 0.0}
        execs = self._sql.executionsList()
        i = execs.size() - 1
        while i >= 0 and execs.apply(i).executionId() > sql_mark:
            ex = execs.apply(i)
            i -= 1
            desc = ex.physicalPlanDescription()
            tot["reused"] += desc.count("ReusedExchange")
            if not PYTHON_NODE.search(desc):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    val = parse_metric(v.get() if v.isDefined() else None)
                    name = m.name()
                    if name == "data sent to Python workers":
                        tot["py_sent_bytes"] += val
                    elif name == "data returned from Python workers":
                        tot["py_recv_bytes"] += val
                    elif name == "number of output rows":
                        tot["py_rows"] += val
                    elif name == "time to run Python workers":
                        tot["py_busy_s"] += val
        return tot

    def jvm(self) -> dict:
        """Driver-JVM GC time, whole-stage codegen compilations, heap used."""
        mf = self._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        codegen = getattr(
            getattr(self._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
            "MODULE$",
        ).METRIC_COMPILATION_TIME().getCount()
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return {"gc_ms": int(gc_ms), "codegen_n": int(codegen),
                "heap_mb": heap / 2**20}

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)
    except OSError:
        return {}


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _status(int(entry)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pid: int) -> dict:
    """Peak resident set (VmHWM) of ``pid`` and, summed, of the live
    processes below it: the driver JVM and the Python workers it forked."""
    own = below = 0
    procs = descendants(pid)
    for p in procs:
        kb = int(_status(p).get("VmHWM", "0 kB").split()[0])
        if p == pid:
            own = kb
        else:
            below += kb
    return {"total_mb": (own + below) / 1024, "jvm_mb": own / 1024,
            "workers_mb": below / 1024, "workers": len(procs) - 1}


def cpu_times() -> list[int]:
    """Host-wide CPU time counters from ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests: contention no load average shows."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_``-prefixed
    files (checksums, markers) count toward bytes but not files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return total, files


def file_sigs(path: str) -> dict[str, tuple[int, int]]:
    """``(size, mtime_ns)`` of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed while walking
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` that are new or changed since
    ``before`` (both from ``file_sigs``): what was written in between,
    by any writer, whatever was deleted meanwhile."""
    return sum(sig[0] for p, sig in after.items() if before.get(p) != sig)
