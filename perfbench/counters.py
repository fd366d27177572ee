"""Counters read from outside the program: Spark's status stores over py4j,
and the resident memory of the processes a run owns, from ``/proc``.

Spark work is attributed to a span by id range: jobs and stages are numbered
in submission order, and one client submits them one operation at a time, so
the jobs and stages whose ids fall between a span's start and end snapshots
ran inside it.  This also covers jobs that streaming queries submit from
their own threads under their own job groups.
"""

from __future__ import annotations

import gc
import os
import re
import threading
import time
from dataclasses import dataclass

PY_METRICS = ("data sent to Python workers", "data returned from Python workers")
_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric.  Per-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``: the first size is the total."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class StageTotals:
    """One span's Spark work: sums over its stages (all attempts; skipped
    stages ran no tasks and add nothing) and its jobs, plus, from its SQL
    executions, Python worker bytes and the largest join output."""

    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_rows: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    python_bytes: float = 0.0
    join_rows: float = 0.0
    jobs: int = 0


class SparkCounters:
    """Read-only view of one SparkContext's ``AppStatusStore`` and the SQL
    status store.  Needs the retained jobs/stages/executions limits raised
    (see ``run.start_session``) so long runs drop nothing."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._dag = self._jsc.dagScheduler()

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id): the boundary snapshot of a span."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def executor_totals(self) -> dict[str, float]:
        """Executor totals from ``executorList(true)`` (the driver, in local mode)."""
        xs = self._store.executorList(True)
        out = dict.fromkeys(
            ("task_s", "gc_s", "shuffle_read", "shuffle_write", "input_bytes",
             "completed_tasks", "failed_tasks"), 0.0)
        for i in range(xs.size()):
            e = xs.apply(i)
            out["task_s"] += e.totalDuration() / 1e3
            out["gc_s"] += e.totalGCTime() / 1e3
            out["shuffle_read"] += e.totalShuffleRead()
            out["shuffle_write"] += e.totalShuffleWrite()
            out["input_bytes"] += e.totalInputBytes()
            out["completed_tasks"] += e.completedTasks()
            out["failed_tasks"] += e.failedTasks()
        return out

    def jvm_gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors (in
        local mode the executors run in that JVM too)."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def heap_usage(self) -> tuple[int, int]:
        """(bytes in use, bytes reserved) of the driver JVM's heap."""
        u = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean(
        ).getHeapMemoryUsage()
        return u.getUsed(), u.getMax()

    def jvm_pid(self) -> int:
        return self._jvm.java.lang.ProcessHandle.current().pid()

    def live_heap_bytes(self, max_passes: int = 4) -> int:
        """Heap bytes in use once what the program dropped is freed.  Python
        frees the py4j proxies of finished DataFrames (some sit in reference
        cycles); py4j releases their JVM objects from a worker thread that
        wakes once a second; Spark's context cleaner drops the blocks of
        unreachable RDDs and broadcasts only after a JVM collection has found
        them.  A pass is a Python collection, a wait for that worker, and two
        JVM collections around a wait for the cleaner; passes repeat until
        the heap stops falling.  After one pass the live heap of a
        ``recsys_topk`` process still read 353 MB instead of 154 MB after
        some queries; after two it never did."""
        last = None
        for _ in range(max_passes):
            gc.collect()
            time.sleep(1.2)
            self._jvm.java.lang.System.gc()
            time.sleep(0.5)
            self._jvm.java.lang.System.gc()
            used = self.heap_usage()[0]
            if last is not None and used > 0.98 * last:
                return min(used, last)
            last = used
        return last

    def cached_bytes(self) -> float:
        """Memory plus disk held by persisted RDDs and cached relations."""
        rs = self._store.rddList(True)
        return float(sum(
            rs.apply(i).memoryUsed() + rs.apply(i).diskUsed() for i in range(rs.size())
        ))

    def stage_table(self) -> dict[int, dict[str, float]]:
        """Every retained stage, attempts summed.  ``stageList`` takes all of
        its Scala default arguments explicitly over py4j."""
        empty = self._jvm.java.util.ArrayList
        stages = self._store.stageList(
            empty(), False, False, self._gateway.new_array(self._jvm.double, 0), empty()
        )
        table: dict[int, dict[str, float]] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            row = table.setdefault(s.stageId(), dict.fromkeys(
                ("tasks", "failed", "run_s", "cpu_s", "shuffle_read",
                 "shuffle_write", "spill", "input_rows", "input_bytes",
                 "output_bytes"), 0.0))
            row["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            row["failed"] += s.numFailedTasks()
            row["run_s"] += s.executorRunTime() / 1e3
            row["cpu_s"] += s.executorCpuTime() / 1e9
            row["shuffle_read"] += s.shuffleReadBytes()
            row["shuffle_write"] += s.shuffleWriteBytes()
            row["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            row["input_rows"] += s.inputRecords()
            row["input_bytes"] += s.inputBytes()
            row["output_bytes"] += s.outputBytes()
        return table

    def sql_by_job(self) -> dict[int, tuple[float, float]]:
        """Per SQL execution, keyed by its smallest job id: (bytes sent to
        plus returned from Python workers, the largest output row count of
        any join node)."""
        execs = self._sql.executionsList()
        out: dict[int, tuple[float, float]] = {}
        for i in range(execs.size()):
            x = execs.apply(i)
            jobs = x.jobs().keys().toList()
            if jobs.isEmpty():
                continue
            eid = x.executionId()
            values = self._sql.executionMetrics(eid)

            def value(acc: int) -> str | None:
                v = values.get(acc)
                return v.get() if v.isDefined() else None

            py = 0.0
            ms = x.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() in PY_METRICS and (v := value(m.accumulatorId())):
                    py += parse_size(v)
            join = 0.0
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Join" not in node.name():
                    continue
                nm = node.metrics()
                for q in range(nm.size()):
                    m = nm.apply(q)
                    if m.name() == "number of output rows" and (v := value(m.accumulatorId())):
                        join = max(join, float(v.replace(",", "")))
            first = min(jobs.apply(k) for k in range(jobs.size()))
            old = out.get(first, (0.0, 0.0))
            out[first] = (old[0] + py, max(old[1], join))
        return out


def totals(
    stage_table: dict[int, dict[str, float]],
    sql_by_job: dict[int, tuple[float, float]],
    jobs: tuple[int, int],
    stages: tuple[int, int],
) -> StageTotals:
    """Sum the stages with ids in ``[stages)`` and the jobs in ``[jobs)``."""
    t = StageTotals(jobs=jobs[1] - jobs[0])
    for sid in range(*stages):
        row = stage_table.get(sid)
        if row is None or row["tasks"] == 0:
            continue
        t.stages += 1
        t.tasks += int(row["tasks"])
        t.task_failures += int(row["failed"])
        t.run_s += row["run_s"]
        t.cpu_s += row["cpu_s"]
        t.shuffle_read_bytes += row["shuffle_read"]
        t.shuffle_write_bytes += row["shuffle_write"]
        t.spill_bytes += row["spill"]
        t.input_rows += row["input_rows"]
        t.input_bytes += row["input_bytes"]
        t.output_bytes += row["output_bytes"]
    for j, (py, join) in sql_by_job.items():
        if jobs[0] <= j < jobs[1]:
            t.python_bytes += py
            t.join_rows = max(t.join_rows, join)
    return t


def _processes() -> dict[int, tuple[int, str, int, int]]:
    """``pid -> (ppid, comm, vsize, rss pages)`` from ``/proc/<pid>/stat``."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while the table was read
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2:].split()
        table[int(d)] = (int(rest[1]), comm, int(rest[20]), int(rest[21]))
    return table


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants(root: int, table=None) -> list[int]:
    table = _processes() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def _same_space(a: tuple, b: tuple) -> bool:
    """Address-space size and resident size within 1 % of each other."""
    return abs(a[2] - b[2]) <= 0.01 * b[2] and abs(a[3] - b[3]) <= 0.01 * b[3]


def tree_rss_bytes(root: int, rss=None) -> int:
    """Summed RSS of ``root`` and all its descendants: the Python driver, the
    driver JVM it launched and the Python workers the JVM forks; ``rss``
    maps a pid to a function giving that process's RSS in its place.  A
    child caught between fork and exec (the JVM spawns ``chmod`` for every
    file it writes) maps its parent's pages; it is recognised by a
    parent-sized address space and resident set, or by a JVM parent's name
    (the JVM starts no JVM), and not counted twice."""
    table = _processes()
    total = 0
    for pid in [root, *descendants(root, table)]:
        me = table[pid]
        parent = table.get(me[0])
        if pid != root and parent is not None and (
                _same_space(me, parent) or me[1] == parent[1] == "java"):
            continue
        total += rss[pid]() if rss and pid in rss else me[3] * os.sysconf("SC_PAGE_SIZE")
    return total


_MAPPING = re.compile(r"([0-9a-f]+)-([0-9a-f]+) ")
_SMAPS_RSS = re.compile(r"^([0-9a-f]+)-[0-9a-f]+ .*\n(?:.*\n)*?Rss: +(\d+) kB", re.M)


def heap_range(pid: int, reserved: int) -> tuple[int, int]:
    """The address range of a JVM's heap: the run of adjacent mappings in
    ``/proc/<pid>/maps`` that spans exactly the heap's reserved size (the
    heap is reserved in one piece at start and split into committed and
    uncommitted mappings as it grows and shrinks)."""
    spans = []
    with open(f"/proc/{pid}/maps") as f:
        for line in f:
            lo, hi = _MAPPING.match(line).groups()
            spans.append((int(lo, 16), int(hi, 16)))
    for i, (lo, _hi) in enumerate(spans):
        for j in range(i, len(spans)):
            if j > i and spans[j][0] != spans[j - 1][1]:
                break
            if spans[j][1] - lo == reserved:
                return lo, spans[j][1]
            if spans[j][1] - lo > reserved:
                break
    raise RuntimeError(f"no run of mappings of pid {pid} spans the "
                       f"{reserved} reserved heap bytes")


def rss_outside(pid: int, lo: int, hi: int) -> int:
    """Resident bytes of ``pid`` outside the address range ``[lo, hi)``,
    summed over the mappings of ``/proc/<pid>/smaps``."""
    with open(f"/proc/{pid}/smaps") as f:
        text = f.read()
    total = 0
    for start, kb in _SMAPS_RSS.findall(text):
        if not lo <= int(start, 16) < hi:
            total += int(kb)
    return total * 1024


class MemorySampler:
    """The memory a run holds: the peak, over samples every ``interval_s``,
    of the summed RSS of :func:`tree_rss_bytes` outside the driver JVM's
    heap (every resident page of the JVM outside the heap's address range),
    plus the JVM's live heap (:meth:`SparkCounters.live_heap_bytes`), read
    once the window has ended (:meth:`finish`).  How far the collector lets
    a heap fill with garbage between collections is its own policy and moved
    a sampled peak by a quarter between runs; the live heap moves with what
    the program keeps there (cached relations, broadcasts, memos).  The
    heap's committed bytes are no stand-in for its resident pages: G1
    lowers them when it shrinks the heap and releases the pages later, from
    another thread, and RSS less committed bytes read up to 700 MB high
    in between."""

    def __init__(self, spark_counters, interval_s: float = 0.5):
        self._counters = spark_counters
        self._interval = interval_s
        jvm = spark_counters.jvm_pid()
        lo, hi = heap_range(jvm, spark_counters.heap_usage()[1])
        self._rss = {jvm: lambda: rss_outside(jvm, lo, hi)}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self.live_heap = 0
        self._thread = threading.Thread(target=self._loop, name="memory", daemon=True)

    def sample(self) -> int:
        return tree_rss_bytes(os.getpid(), self._rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            value = self.sample()
            with self._lock:
                self._peak = max(self._peak, value)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        with self._lock:
            self._peak = self.sample()

    def finish(self) -> float:
        """Stop sampling, collect the heap, and return the metric in MB."""
        self.stop()
        self.live_heap = self._counters.live_heap_bytes()
        return (self._peak + self.live_heap) / 1e6

    @property
    def outside_heap(self) -> int:
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
