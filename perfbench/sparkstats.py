"""What the benchmark reads from outside the program: Spark's status
store per job group, Catalyst planning phases, resident memory and CPU
time from /proc, and the pure-JVM control job."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def group_metrics(spark: SparkSession, group: str, timeout_s: float = 10.0) -> dict:
    """Totals over every stage of every job run under ``group``:
    jobs, tasks, executorRunTime (task_s), executorCpuTime (cpu_s),
    shuffle bytes written, and each task's input records. Waits for the
    listener bus to catch up."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        settled = all(j is not None and j.status != "RUNNING" for j in jobs)
        stages = sorted({s for j in jobs if j is not None for s in j.stageIds})
        data = [
            sd
            for sid in stages
            for sd in _seq(store.stageData(sid, False, empty, False, no_q))
        ]
        active = any(sd.status().toString() == "ACTIVE" for sd in data)
        if (settled and not active) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    task_records = []
    for sd in data:
        for td in _seq(store.taskList(sd.stageId(), sd.attemptId(), sd.numTasks())):
            tm = td.taskMetrics()
            if tm.isDefined():
                task_records.append(tm.get().inputMetrics().recordsRead())
    return {
        "jobs": len(jobs),
        "tasks": sum(sd.numCompleteTasks() for sd in data),
        "task_s": sum(sd.executorRunTime() for sd in data) / 1e3,
        "cpu_s": sum(sd.executorCpuTime() for sd in data) / 1e9,
        "shuffle_bytes": sum(sd.shuffleWriteBytes() for sd in data),
        "task_input_records": task_records,
    }


def plan_seconds(df: DataFrame) -> float:
    """Catalyst analysis + optimization + physical planning of ``df``'s
    plan, from its QueryExecution phase tracker (planning is forced
    here if it has not happened yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        p = it.next()
        total += p.endTimeMs() - p.startTimeMs()
    return total / 1e3


def control_seconds(spark: SparkSession, rows: int = 100_000_000, reps: int = 3) -> float:
    """Median wall of a pure-JVM job (range → sqrt → sum): no Python, no
    shuffle, no I/O. It moves with box load, not with this program."""
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(rows, numPartitions=4 * cores).select(F.sum(F.sqrt("id")))
    df.collect()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[len(walls) // 2]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.scandir("/proc"):
        if not e.name.isdigit():
            continue
        try:
            with open(f"/proc/{e.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(e.name))
    return kids


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (the driver JVM and the
    Python workers it forked)."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process and by
    ``root_pid``'s process tree, reaped children included. Time the
    hypervisor steals from the box is not in it, so it moves less than
    wall time when neighbours load the host."""
    own = os.times()
    total = own.user + own.system
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15]) / _TICK
    return total


def cpu_ticks() -> dict[str, tuple[int, int]]:
    """(busy, stolen) clock ticks of each CPU this process may run on,
    from /proc/stat: busy is user + nice + system + irq + softirq,
    stolen is time the CPU had work but the hypervisor ran another
    guest."""
    cpus = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    out = {}
    with open("/proc/stat") as f:
        for line in f:
            name, *vals = line.split()
            if name in cpus:
                v = [int(x) for x in vals]
                out[name] = (v[0] + v[1] + v[2] + v[5] + v[6], v[7])
    return out


def stolen_share(before: dict, after: dict, wall_s: float) -> float:
    """The largest share of its demanded time that the hypervisor stole
    from a CPU between two ``cpu_ticks()`` readings, over the CPUs that
    demanded at least a quarter of ``wall_s``. A Spark stage ends with
    its slowest task, so the most-stolen busy CPU sets the pace; nearly
    idle CPUs are left out, since a few stolen ticks there would read as
    a large share."""
    floor = wall_s * _TICK / 4
    shares = [0.0]
    for cpu, (busy1, stolen1) in after.items():
        busy, stolen = busy1 - before[cpu][0], stolen1 - before[cpu][1]
        if busy + stolen >= floor:
            shares.append(stolen / (busy + stolen))
    return max(shares)


class RssSampler:
    """Samples the process tree's resident memory on a thread.
    ``take_peak()`` returns the highest sample since the previous call.
    The tree is re-walked only every ``rescan_s`` (a walk reads every
    /proc entry; a sample reads one file per process in the tree)."""

    def __init__(
        self, root_pid: int, interval_s: float = 0.1, rescan_s: float = 1.0
    ) -> None:
        self.rescan_s = rescan_s
        self.root_pid = root_pid
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, walked = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - walked > self.rescan_s:
                pids, walked = descendants(self.root_pid), time.monotonic()
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return max(peak, rss_bytes(descendants(self.root_pid)))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
