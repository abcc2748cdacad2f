"""Spark session lifecycle and process-tree CPU/RSS sampling.

The sampler reads ``/proc`` for the whole process tree rooted at this
driver: the driver Python, the JVM it launches, the Python worker
daemon and its forked workers.  CPU time of children that already
exited is included through their parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import tempfile
import threading
import time
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat_fields(pid: int) -> Optional[List[str]]:
    """``/proc/<pid>/stat`` fields after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def descendants(root: int) -> List[int]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        f = _stat_fields(int(name)) if name.isdigit() else None
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_rss(root: int) -> tuple:
    """(CPU seconds incl. reaped children, RSS bytes) over the tree."""
    cpu = 0
    rss = 0
    for pid in [root] + descendants(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after the comm: state=0 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21 (pages)
        cpu += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss += int(f[21]) * _PAGE
    return cpu / _CLK, rss


class TreeSampler:
    """Peak summed RSS of the process tree, sampled on a thread.

    ``lap()`` returns the peak since the previous lap and starts a new
    one, so a caller can take one peak per iteration."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_cpu_rss(self.root)[1]
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def lap(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def build_session(work_dir: str, cores: int, src_root: str):
    """A ``local[cores]`` session whose scratch files stay in ``work_dir``;
    Python workers import the program from ``src_root``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the JVMs (launcher and driver) would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = src_root + (os.pathsep + path if path else "")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed heap size: RSS then follows the pages the program touches,
        # not the JVM's heap-resizing decisions, which vary run to run
        .config("spark.driver.extraJavaOptions", f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process of the tree."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_ended(tree)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_ended(pids: List[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has ended; kill what outlives the timeout.

    Workers are re-parented once the JVM exits, so the pids are taken
    while the tree is still whole."""
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
