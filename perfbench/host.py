"""Host-sized Spark session, host facts, and process accounting.

The session is sized from this machine, never from a fixed core count: the
master is ``local[nproc]``, shuffle partitions equal nproc, and the driver
heap is a share of MemTotal. Every scratch path Spark, the JVM and the
Python workers write to is pointed inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

DRIVER_MEM_SHARE = 0.4
DRIVER_MEM_CAP_GB = 16


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    return int(min(DRIVER_MEM_CAP_GB * 1024, mem_total_mb() * DRIVER_MEM_SHARE))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def source_revision(root: str) -> str | None:
    """Git commit of the checkout; None when it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_facts(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "cpu_model": cpu_model(),
        "commit": source_revision(root),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
    }


def isolate_temp(work: str) -> str:
    """Point every temp-file user at ``work/tmp`` before the JVM starts:
    the Python driver (py4j connection files), the JVM (java.io.tmpdir) and
    the Python workers (inherited TMPDIR)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return tmp


def build_session(root: str, work: str, cores: int | None = None,
                  event_log_dir: str | None = None):
    """A ``local[cores]`` session with the engine package on the Python
    workers' path. ``event_log_dir`` turns on Spark's event log (traced
    runs only)."""
    from pyspark.sql import SparkSession

    cores = cores or nproc()
    tmp = isolate_temp(work)
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the gateway JVM (after its session stopped) and wait for it, so
    the process leaves nothing running behind it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _tree_stats(root_pid: int) -> tuple[int, float]:
    """Summed RSS (kB) and CPU time (s, including reaped children's) of
    ``root_pid`` and all its descendants (the JVM, the pyspark daemon and
    its forked workers), read from /proc."""
    parent: dict[int, int] = {}
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime, stime, cutime, cstime are stat fields 14-17
        stats[pid] = (pages, sum(int(x) for x in fields[11:15]))
    keep = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    pages = sum(stats[p][0] for p in keep if p in stats)
    ticks = sum(stats[p][1] for p in keep if p in stats)
    return (pages * (os.sysconf("SC_PAGE_SIZE") // 1024),
            ticks / os.sysconf("SC_CLK_TCK"))


def cpu_s(jvm: int | None) -> float:
    """CPU seconds used so far by this process and the JVM tree (none
    before the JVM starts): the driver-side Python (py4j calls, result
    conversion) and the engine."""
    t = os.times()
    return t.user + t.system + (_tree_stats(jvm)[1] if jvm is not None else 0.0)


class RssSampler:
    """Background sampler of the JVM process tree's summed RSS; ``peak_mb``
    is the highest sample since the last ``reset``."""

    def __init__(self, pid: int, interval_s: float = 1.0):
        self.pid = pid
        self.interval_s = interval_s
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        kb = _tree_stats(self.pid)[0]
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)

    def reset(self) -> None:
        with self._lock:
            self._peak_kb = 0

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak_kb / 1024.0

