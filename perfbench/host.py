"""Host pinning, memory sampling and process clean-up for the benchmark.

Everything here is about the machine the engine runs on, not the engine:
the core count, the driver heap, where scratch files go, and the processes
PySpark starts (the JVM, and the Python worker daemon under it).
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

# Below the host's 15 GiB, which other tenants share; the engine's own
# default (16g) is left untouched and overridden only through its variable.
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin(work: str) -> dict[str, str]:
    """Set the environment the engine reads, before pyspark is imported, and
    return the Spark conf the benchmark passes to ``get_spark``. Every file
    Spark, the JVM or the engine writes lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # tempfile.gettempdir() (the engine's package zip) follows TMPDIR; every
    # JVM, the spark-submit launcher included, reads JAVA_TOOL_OPTIONS.
    # The JIT stops at C1: with C2 on, the first runs of a fresh JVM spend
    # more CPU compiling than running the engine, by an amount that differs
    # from process to process (see NOTES.md, "Warm-up"). The code cache
    # keeps the size it has with C2 on (C1 alone would default to 48m and
    # spend CPU flushing and recompiling).
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark_local"),
    }


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    process under it: the JVM with all its threads (tasks, JIT, GC) and the
    Python workers. Children that have ended and been reaped count in their
    parent's cutime/cstime, so a difference of two readings is the CPU spent
    between them. Time the host gives to other tenants is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended since it was listed; its parent holds its time
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other tenants since boot,
    summed over this machine's CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid() -> int | None:
    """The driver JVM: the gateway process PySpark launched (spark-submit
    execs into java)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


class RssSampler:
    """Peak of (Python driver RSS + JVM RSS), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = _rss_mb(os.getpid())
            pid = jvm_pid()
            if pid is not None:
                total += _rss_mb(pid)
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.period_s)


def shutdown_spark(timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, close the JVM and wait until the JVM and every
    process it started (the Python worker daemon and workers) have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + timeout_s
    for pid in tree:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
