"""Host-side probes: process-tree CPU and RSS from ``/proc``, the driver
heap size from ``/proc/meminfo``, a single-thread CPU canary, and the
Spark status readers (job groups, stage input bytes, scan file counts,
JVM GC time) the traced run reports."""

from __future__ import annotations

import hashlib
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------

def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after the last ')' splits
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int) -> str:
    """driver | jvm | python (Spark's Python daemon and workers)."""
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if b"java" in cmd.split(b"\0")[0]:
        return "jvm"
    return "python" if b"pyspark" in cmd else "other"


def _ticks(st: list[str]) -> int:
    # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
    return sum(int(v) for v in st[11:15])


def _thread_ticks(st: list[str]) -> int:
    # fields 14-15 only: a thread's cutime and cstime are its process's
    return int(st[11]) + int(st[12])


def _jit_ticks(pid: int) -> int:
    """CPU of the JVM's JIT compiler threads (a fixed set: the session
    turns dynamic compiler threads off, so none exits mid-run)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
        except OSError:
            continue
        st = _stat(f"{pid}/task/{tid}")
        total += _thread_ticks(st) if st else 0
    return total


def tree_cpu() -> dict[str, float]:
    """CPU seconds (user+sys, plus reaped children) over the process tree
    by kind: driver, jvm, python, other, and ``jit`` (the JVM's compiler
    threads, left out of ``jvm``). ``total`` is everything but ``jit``:
    how much compiling a short run still does depends on when compilation
    happens to finish, not on the work measured."""
    out = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "python": 0.0,
           "other": 0.0}
    for pid in tree_pids():
        st = _stat(pid)
        if st is None:
            continue
        kind = _kind(pid)
        ticks = _ticks(st)
        if kind == "jvm":
            jit = _jit_ticks(pid)
            out["jit"] += jit / _TICK
            ticks -= jit
        out[kind] += ticks / _TICK
    out["total"] = sum(v for k, v in out.items() if k != "jit")
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak``
    covers the samples taken since the last ``reset``. The tree is
    re-listed once a second, its members' RSS read five times a second."""

    INTERVAL = 0.2
    RELIST_EVERY = 5

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        n = 0
        pids: list[int] = []
        while not self._stop.wait(self.INTERVAL):
            if n % self.RELIST_EVERY == 0:
                pids = tree_pids()
            n += 1
            self.peak = max(self.peak, rss_mb(pids))

    def reset(self) -> None:
        self.peak = rss_mb(tree_pids())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def driver_memory() -> str:
    """A fifth of physical memory, clamped to [1, 4] GiB: sized from
    MemTotal (not MemAvailable) so the heap is the same on every run."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    mb = min(4096, max(1024, kb // 1024 // 5))
    return f"{mb}m"


def cpu_canary(seconds: float = 0.25) -> float:
    """Single-thread sha256 ops/s over a 4 KiB buffer."""
    buf = b"\x5a" * 4096
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        hashlib.sha256(buf).digest()
        n += 1
    return n / (time.perf_counter() - t0)


# --------------------------------------------------------------------------
# Spark status (in-process, no UI server)
# --------------------------------------------------------------------------

def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    infos = [st.getStageInfo(s) for s in stages]
    return {"jobs": len(jobs), "stages": len(stages),
            "tasks": sum(i.numTasks for i in infos if i is not None)}


def group_inputs(spark, groups: list[str]) -> dict[str, dict[str, int]]:
    """Input bytes (stage metrics) and parquet files read (scan-node SQL
    metrics) of everything that ran under each job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    job_group = {j: g for g in groups for j in st.getJobIdsForGroup(g)}
    stage_group = {s: job_group[j] for j in job_group
                   for s in st.getJobInfo(j).stageIds}
    out = {g: {"bytes": 0, "files": 0} for g in groups}

    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() in stage_group:
            out[stage_group[s.stageId()]]["bytes"] += s.inputBytes()

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs().keys().toSeq()
        hit = [job_group[j] for j in (jobs.apply(k) for k in range(jobs.size()))
               if j in job_group]
        if not hit:
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            ms = nodes.apply(k).metrics()
            for m in (ms.apply(j) for j in range(ms.size())):
                if m.name() == "number of files read":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[hit[0]]["files"] += int(v.get().replace(",", ""))
    return out


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1000.0
