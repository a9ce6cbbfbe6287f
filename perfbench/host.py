"""The host side of a run: a Spark session fitted to the host and
confined to the run's work directory, its orderly shutdown, and the
noise diagnostics (peak RSS of the process tree, CPU steal, the
calibration probe).
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb() -> int:
    """Local mode runs driver and executors in one JVM. The package
    default (16g) exceeds small hosts; the workloads fit in 2 GiB, and a
    quarter of MemTotal caps it on smaller ones."""
    return max(1, min(2, mem_total_bytes() // 4 // 2**30))


def confine(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers into ``work``, and export the checkout on PYTHONPATH
    so the workers can import the package from any cwd."""
    import tempfile

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{path}" if path else ROOT


def session_conf(work: str) -> dict[str, str]:
    """The heap is pre-touched, so its RSS is constant, and its young
    generation is fixed at a quarter of it, so the eden pool peaks at
    the same size in every run; what the heap adds to ``peak_memory``
    then moves with the data the old generation holds."""
    return {
        "spark.driver.memory": f"{driver_heap_gb()}g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{driver_heap_gb()}g -XX:+AlwaysPreTouch -Xmn{driver_heap_gb() * 256}m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str):
    from excel_to_database_spark import get_session

    n = host_cpus()
    return get_session(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=session_conf(work)
    )


def stop_session(spark) -> None:
    """Stop the context, then close the gateway and wait for the JVM
    (which takes its Python worker daemons with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers), reaped children included. Time the
    hypervisor steals from the host is not in it."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _start_ticks(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRss:
    """Samples the peak RSS (VmHWM) of this process and every
    descendant — the JVM and its Python workers — on a background
    thread. ``peak_mb`` is the sum over all processes seen since the
    last ``reset`` of each one's own high-water mark.

    A process counts from its second sample on. A child caught between
    fork and exec (the JVM spawns ``chmod`` through ``jspawnhelper``)
    still shares its parent's memory and reads the parent's whole RSS;
    counting it added the JVM's ~2.6 GB a second time to one run in 84."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._hwm: dict[int, int] = {}
        self._born: dict[int, int | None] = {}
        self._last: dict[int, int | None] = {}  # pid -> start time, in the previous sample
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-rss", daemon=True)

    def start(self) -> "TreeRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        with self._lock:
            seen = {}
            for pid in _tree():
                kib = _hwm_kib(pid)
                if not kib:
                    continue
                seen[pid] = _start_ticks(pid)
                self._born.setdefault(pid, seen[pid])
                if self._last.get(pid, -1) == seen[pid]:
                    self._hwm[pid] = max(self._hwm.get(pid, 0), kib)
            self._last = seen

    def reset(self) -> None:
        """Start a new peak: each process's kernel high-water mark
        restarts at its current RSS."""
        with self._lock:
            for pid in _tree():
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except (FileNotFoundError, ProcessLookupError):
                    pass  # the process has exited
            self._hwm.clear()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def processes(self) -> dict[int, int | None]:
        """Every descendant seen, with its start time (to tell it from a
        later process that reuses the pid)."""
        return {p: b for p, b in self._born.items() if p != os.getpid()}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm.values()) / 1024


class JavaHeap:
    """Use of the JVM's heap, from its memory-pool beans. The heap is
    pre-touched (see ``session_conf``), so all of it is resident from
    the start; its peak use is what it stands for in ``peak_memory``."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._heap = mf.getMemoryMXBean()
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def pool_peaks_mb(self) -> dict[str, float]:
        """Each heap pool's peak use since ``reset``."""
        return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in self._pools}

    def committed_mb(self) -> float:
        return self._heap.getHeapMemoryUsage().getCommitted() / 2**20


def peak_memory(rss: TreeRss, heap: JavaHeap) -> dict[str, float]:
    """Peak RSS of the process tree, with the JVM's pre-touched heap
    counted at its peak use instead of its full size."""
    pools, committed = heap.pool_peaks_mb(), heap.committed_mb()
    return {
        "peak_rss_mb": rss.peak_mb - committed + sum(pools.values()),
        "tree_peak_rss_mb": rss.peak_mb,
        "heap_committed_mb": committed,
        **{f"heap_peak_mb.{name}": mb for name, mb in pools.items()},
    }


def wait_gone(procs: dict[int, int | None], timeout_s: float = 20.0) -> list[int]:
    """Wait for the given processes (pid -> start time) to exit; kill
    what is left."""
    import signal

    deadline = time.monotonic() + timeout_s
    alive = list(procs)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _start_ticks(p) is not None and _start_ticks(p) == procs[p]]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


class Steal:
    """Hypervisor steal over an interval, as a share of all CPU time of
    the host, from the repository's ``/proc/stat`` parser."""

    def __init__(self):
        from scripts.scale_slope import steal_cs

        self._read = steal_cs
        self._t0 = time.monotonic()
        self._s0 = steal_cs()

    def pct(self) -> float:
        s1 = self._read()
        if s1 is None or self._s0 is None:
            return 0.0
        ticks = (time.monotonic() - self._t0) * os.sysconf("SC_CLK_TCK") * os.cpu_count()
        return 100.0 * (s1 - self._s0) / ticks if ticks > 0 else 0.0


def calibration_s(spark) -> float:
    """``bench.py``'s fixed calibration probe (median of 3)."""
    from bench import sandbox_calibration

    return float(sandbox_calibration(spark))
