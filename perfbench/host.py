"""Environment pinning, host facts and peak memory of the process tree."""

from __future__ import annotations

import os
import platform
import sys
import threading
import time


def cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str, trace: bool) -> dict[str, str]:
    """Set, before the JVM starts, everything the run must not inherit:
    core count, Spark and JVM scratch inside the checkout, and the repo
    root on the Python workers' import path.  Returns what was set."""
    n = cores()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "SPARK_DRIVER_MEM": "4g",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_EXTRA_CONF": f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    }
    if trace:
        # one traced pass can pass the default 1000 retained jobs/stages
        env["SPARK_GRAFT_EXTRA_CONF"] += (
            ";spark.ui.retainedJobs=100000;spark.ui.retainedStages=100000"
        )
    os.environ.update(env)
    return env


def facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {
        "nproc": cores(),
        "cpu_count": os.cpu_count(),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "machine": platform.machine(),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg": os.getloadavg(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(kids: dict[int, list[int]]) -> list[int]:
    """This process and every live descendant."""
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """CPU time used so far by this process, the JVM and the Python
    workers, with what their reaped children used.  The kernel leaves out
    the time a hypervisor steals from the guest, so this grows much less
    than wall time when the host's other tenants are busy."""
    ticks = 0
    for pid in _tree(_children()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, after the command name
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and CPU seconds (`cpu_seconds`) of the enclosed block."""

    def __enter__(self) -> Stopwatch:
        self._wall, self._cpu = time.perf_counter(), cpu_seconds()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._wall
        self.cpu = cpu_seconds() - self._cpu


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the Python workers fork from
    one daemon) are split between the processes that map them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of the run: this process and every descendant (the
    JVM and the Python workers), each read on its own every `interval`
    seconds; the peak of their sum over the run.  One reading walks the
    JVM's page tables (~25 ms on a 4-core host), so it is taken rarely
    enough to stay out of the timings."""

    def __init__(self, interval: float = 2.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def sample(self) -> None:
        total = sum(_pss_kb(pid) for pid in _tree(_children()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def mb(self) -> float:
        return self.peak_kb / 1024.0
