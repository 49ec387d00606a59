"""Host facts, a Spark session sized to this host, and /proc accounting.

CPU time is read from ``/proc/<pid>/stat``.  Python workers are children
of the ``pyspark.daemon`` process, which is a child of the JVM; a worker
that exits is reaped by the daemon, and its CPU moves into the daemon's
``cutime``/``cstime``.  Summing ``utime + stime + cutime + cstime`` over the
daemon and its live children therefore never goes backwards, where a
per-pid sum over live workers would.  Other processes the JVM starts and
reaps (Hadoop's shell helpers) count as JVM time through its ``cutime``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess

TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """CPUs this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of the host's memory: the machine is shared, the heap is
    pre-touched (see :func:`session`), and the inputs are small."""
    return max(1024, mem_total_mb() // 8)


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f
                     if ln.startswith("btime"))
    return btime + start_ticks / TICK


def _tree_id(root: str) -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    package sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for p in sorted(glob.glob(os.path.join(root, "go_jsonschema_spark",
                                           "**", "*.py"), recursive=True)):
        with open(p, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:12]


def facts(root: str) -> dict:
    import platform

    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True, timeout=30).stderr.splitlines()
    return {
        "nproc": cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "java": java[0] if java else "unknown",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "head": _tree_id(root),
    }


def prepare_env(root: str, work: str) -> None:
    """Process environment the session and its workers inherit: every
    temporary file under ``work``, and the package importable by the
    Python workers (they do not inherit the driver's ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import sys

    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def session(work: str, event_log: str | None = None):
    """``local[nproc]`` session with driver memory from MemTotal; the
    Spark event log goes to ``event_log`` when given."""
    from pyspark.sql import SparkSession

    n = cores()
    mem = driver_memory_mb()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # A fixed, pre-touched heap.  Otherwise the JVM's RSS tracks how far
        # the collector has grown and touched the heap so far, which
        # differed by up to 30% between identical short runs; a long-lived
        # JVM reaches its full heap anyway.
        # C1 only (TieredStopAtLevel=1).  With the optimizing compiler, about
        # one run in four settled where the flagship took twice the time
        # and JVM CPU of the others, for the whole run; a run of seconds
        # cannot average that out.  C1 reaches its plateau in one unit.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{mem}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{event_log}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # exited between listing and reading
        return None


class ProcessTree:
    """CPU and peak-RSS accounting for the driver, the JVM it launched and
    the JVM's Python-worker descendants."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        """Python processes under the JVM: the daemon and its workers."""
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    kids.setdefault(int(st[1]), []).append(int(d))
        out, todo = [], list(kids.get(self.jvm, []))
        while todo:
            p = todo.pop()
            try:
                with open(f"/proc/{p}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            except OSError:
                continue
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of the driver, the JVM (with the helper
        processes it reaped) and the Python workers."""
        me = _stat(os.getpid())
        jvm = _stat(self.jvm)
        if me is None or jvm is None:
            raise RuntimeError("driver or JVM process is gone")
        workers = 0
        for p in self.workers():
            st = _stat(p)
            if st is not None:
                workers += sum(int(x) for x in st[11:15])
        return {"driver": (int(me[11]) + int(me[12])) / TICK,
                "jvm": sum(int(x) for x in jvm[11:15]) / TICK,
                "pyworker": workers / TICK}

    def reset_peaks(self) -> None:
        """Restart each process's peak-RSS mark (VmHWM) from its current
        RSS."""
        for p in [self.jvm, *self.workers()]:
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    @staticmethod
    def _hwm_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    def peaks_mb(self) -> tuple[float, float]:
        """(JVM peak RSS, sum of live Python workers' peak RSS) since the
        last :meth:`reset_peaks`."""
        return (self._hwm_mb(self.jvm),
                sum(self._hwm_mb(p) for p in self.workers()))
