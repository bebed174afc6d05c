"""Process-level plumbing: work directory, Spark session, process-tree RSS
sampling, CPU steal, and a shutdown that waits for every child process."""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time

from .stats import median


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workdir:
    """Scratch space inside the checkout. Temporary files of Python, the JVM
    and Spark all go here, and the directory is removed at the end."""

    def __init__(self, root: str):
        self.root = os.path.join(root, ".perfbench_work", str(os.getpid()))
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp  # package_zip, python workers
        import tempfile

        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        d = os.path.join(self.root, name)
        os.makedirs(d, exist_ok=True)
        return d

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(work: Workdir, eventlog_dir: str | None):
    """One ``local[nproc]`` session with the package's tuned defaults."""
    import sys

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from pyramidscheme_jl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.sub("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
    }
    if eventlog_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeRSS:
    """Samples the summed RSS of this process and its descendants (driver,
    JVM, Python workers) every ``INTERVAL_S`` on a background thread."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.samples: list[tuple[int, int]] = []  # (bytes, processes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> tuple[int, int]:
        pids = [os.getpid(), *descendants(os.getpid())]
        return sum(_rss_bytes(p) for p in pids), len(pids)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append(self.sample())
            self._stop.wait(self.INTERVAL_S)

    def median_bytes(self) -> float:
        return median([b for b, _ in self.samples])

    def peak_bytes(self) -> int:
        return max(b for b, _ in self.samples)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants,
    including children they have reaped. Time the hypervisor steals from
    the host's vCPUs is not charged to any process, so this stays steady
    when the wall clock does not."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / dt if dt > 0 else 0.0


def shutdown(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, then wait until every descendant
    process (the JVM, the Python daemon and its workers) has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        procs = descendants(me)
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        alive = procs
        for sig, wait in ((None, timeout), (signal.SIGKILL, 5.0)):
            for p in alive if sig is not None else ():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + wait
            alive = [p for p in alive if _alive(p)]
            while alive and time.monotonic() < deadline:
                time.sleep(0.1)
                alive = [p for p in alive if _alive(p)]


def _alive(pid: int) -> bool:
    """True unless the process is gone or a zombie (exited, not yet reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
