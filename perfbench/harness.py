"""Process plumbing shared by the workloads: the hermetic run
directory, the Spark session's start and full stop, the process-tree
RSS sampler, the operation counts, and the summary statistics."""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import threading
import time

#: root of the checkout: the directory holding ``perfbench/``
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aws_datalake_framework_api_spark"
#: bench.py's scan-split setting: one file per scan task
OPEN_COST_BYTES = str(128 * 1024 * 1024)


def make_run_dir(workload: str, seed: int) -> str:
    """A fresh per-run directory inside the checkout: warehouse,
    checkpoints, Spark scratch, temp files and the event log all live
    here, so nothing carries over between runs."""
    d = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def prepare_env(run_dir: str) -> None:
    """Point every temp/scratch location at ``run_dir`` and make the
    package importable here and on executor Python workers (cloudpickled
    kernels resolve the package through ``PYTHONPATH``, as
    ``__spark_entry__.py`` arranges)."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(run_dir)


def start_spark(run_dir: str, event_log: bool):
    """The engine's own session (``session.get_spark`` defaults) plus
    bench.py's ``openCostInBytes``; JVM temp files stay in the run
    dir.  The traced run also writes Spark's event log, uncompressed
    and unrolled, for the executor counters."""
    from aws_datalake_framework_api_spark.session import get_spark

    conf = {
        "spark.sql.files.openCostInBytes": OPEN_COST_BYTES,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
            "-XX:-UsePerfData"
        ),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:  # noqa: BLE001 — escalate below
                    proc.kill()
                    proc.wait(timeout=10)
        wait_children_gone(30.0)


# ------------------------------------------------------------ process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def wait_children_gone(timeout: float) -> None:
    """Reap and wait for every descendant; kill stragglers at the end."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (Python driver, JVM, Python workers), sampled every 100 ms."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ------------------------------------------------------------ outcomes


class Outcomes:
    """Operation counts of a workload: ``attempted``, ``failed`` and the
    first twenty failure messages (every failure is counted)."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(msg)


# ------------------------------------------------------------ statistics


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
