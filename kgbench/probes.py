"""Host, process-tree and JVM probes (read-only, no effect on the program)."""

from __future__ import annotations

import os
import shutil
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def host_context() -> dict[str, float]:
    """Machine state beside a run's metrics; recorded, never gated."""
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    ctx = {
        "nproc": nproc(),
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "loadavg_15m": load15,
        "mem_available_mb": round(meminfo_kb("MemAvailable") / 1024, 1),
    }
    if os.path.isdir("/dev/shm"):
        ctx["dev_shm_free_mb"] = round(shutil.disk_usage("/dev/shm").free / MB, 1)
    return ctx


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``; (0, 0) if it does not exist."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:  # removed by a concurrent swap
                continue
            files += n.endswith(".parquet")
    return size, files


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended while we looked
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of this process, the JVM and the JVM's Python
    workers, and keeps the peaks since the last reset.

    Only those processes count: a child the JVM is spawning shares the
    JVM's memory until it execs, and would count it twice."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.jvm_pid: int | None = None
        self.seen_pids: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.peak_total = 0
            self.peak_workers = 0

    def sample(self) -> None:
        me = os.getpid()
        total, workers, tree = rss_bytes(me), 0, descendants(me)
        if self.jvm_pid is not None:
            workers = sum(rss_bytes(p) for p in descendants(self.jvm_pid) if is_python(p))
            total += rss_bytes(self.jvm_pid) + workers
        with self._lock:
            self.seen_pids.update(tree)
            self.peak_total = max(self.peak_total, total)
            self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class JvmProbe:
    """GC, heap and scheduler counters of the driver JVM through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._tracker = self.sc._jsc.sc().statusTracker()

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gcs) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / MB

    def next_job_id(self) -> int:
        # job ids are handed out in sequence, so a range of ids is exactly
        # the jobs submitted in between, whatever thread or group ran them
        return int(self._dag.nextJobId())

    def tasks(self, first_job: int, end_job: int) -> int:
        stages: set[int] = set()
        for j in range(first_job, end_job):
            info = self._tracker.getJobInfo(j)
            if info.isDefined():
                stages.update(int(s) for s in info.get().stageIds())
        n = 0
        for s in stages:
            info = self._tracker.getStageInfo(s)
            if info.isDefined():
                n += int(info.get().numTasks())
        return n


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` runs; returns the ones still alive."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
