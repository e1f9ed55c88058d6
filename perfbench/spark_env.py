"""Spark session lifecycle for the benchmark: environment, CPU pinning,
RSS sampling and teardown.

Everything Spark writes goes under the run's work directory: a
benchmark-owned ``SPARK_CONF_DIR`` (uncompressed event log, temp dirs),
local dirs, and the event log itself.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from typing import Dict, List, Optional

DRIVER_MEM = "3g"  # fits a 15 GB box next to 4 Python workers


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare(root: str, work: str) -> None:
    """Set the environment Spark reads at launch.  Call before pyspark
    starts a JVM."""
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp, os.path.join(work, "eventlog"), os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(
            # The event log is switched on per session (see start()); it
            # is written uncompressed because zstandard is not available
            # to read Spark's default zstd log.
            f"spark.eventLog.enabled false\n"
            f"spark.eventLog.dir file://{work}/eventlog\n"
            f"spark.eventLog.compress false\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
            f"spark.sql.warehouse.dir {work}/warehouse\n"
        )
    # No hsperfdata files: the JVMs would write them under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> List[int]:
    kids = _children()
    out = [pid]
    for p in out:
        out.extend(kids.get(p, []))
    return out


def rss_mb(pids: List[int]) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Peak summed RSS of the JVM and its Python workers while active.

    The process tree is re-listed once a second; between listings only
    the known processes are read, to keep the sampler's own load low."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self) -> "RssSampler":
        self.peak = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        k = 0
        while not self._stop.is_set():
            if k % 4 == 0:
                pids = process_tree(self.jvm_pid)
            self.peak = max(self.peak, rss_mb(pids))
            k += 1
            self._stop.wait(self.period_s)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(process_tree(self.jvm_pid)))


class Session:
    """The run's Spark session.  Every ``start`` is a cold start: the
    previous JVM (and its Python workers) has exited, and ``get_spark``
    launches a new one, as a user's first call does."""

    def __init__(self, n_cores: int) -> None:
        self.cores = n_cores
        self.spark = None
        self.gateway = None

    def start(self, event_log: bool = False):
        from pyspark import SparkContext
        from py_pdf_parser_spark.session import get_spark

        if self.gateway is not None:
            self.shutdown()
        # pyspark launches a new JVM only when it has no gateway.
        SparkContext._gateway = None
        SparkContext._jvm = None
        if event_log:
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.eventLog.enabled=true pyspark-shell"
            )
        try:
            self.spark = get_spark(cores=self.cores, app_name="perfbench")
        finally:
            os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        self.gateway = SparkContext._gateway
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.gateway.proc.pid

    def collect_garbage(self) -> None:
        """A full JVM GC, so garbage from untimed work before the measured
        passes does not set their peak RSS."""
        self.gateway.jvm.java.lang.System.gc()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def pin(self, cpus: str) -> None:
        """Confine the JVM, its Python workers and this driver (all
        threads) to ``cpus`` with taskset; children inherit the mask."""
        for pid in process_tree(self.jvm_pid) + [os.getpid()]:
            subprocess.run(
                ["taskset", "-a", "-p", "-c", cpus, str(pid)],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                check=False,
            )

    def shutdown(self, graceful: bool = True, grace_s: float = 15.0) -> None:
        """Stop Spark, then make sure every process this run started (the
        JVM, its Python workers) has exited; not ``graceful``, kill them."""
        from pyspark import SparkContext

        gateway = self.gateway or SparkContext._gateway
        if graceful and gateway is not None:
            try:
                self.stop()
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=grace_s)
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        # Everything started here descends from this process, including a
        # JVM whose launch was interrupted before pyspark recorded it.
        kill_tree(process_tree(os.getpid())[1:])
        if gateway is not None:
            gateway.proc.wait()
        self.gateway = None


def kill_tree(pids: List[int], grace_s: float = 5.0) -> None:
    for sig in (15, 9):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        if _reap(pids, grace_s if sig == 15 else 2 * grace_s):
            return


def _reap(pids: List[int], grace_s: float) -> bool:
    """Wait until none of ``pids`` is alive; True if they all ended."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return True
        time.sleep(0.1)
    return False


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
