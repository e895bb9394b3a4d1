"""Spark environment for the benchmark: sizing, session lifetime, set-up
timing and peak-memory sampling -- all from outside the package.

The package reads ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``;
its defaults (32 cores, 32g) oversubscribe a small box and let the JVM
outgrow physical RAM, so ``configure_env`` sets the cores from the host
and the heap to a size far below any host's RAM. The
event log (traced runs only) is switched on through
``PYSPARK_SUBMIT_ARGS``, which the gateway launch reads, so the
package's ``get_session`` stays untouched.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# The JVM heap. The corpora fit in it many times over, and G1 grows a
# heap this size to the same size on every run; with 2 GB and more, it
# grew by a different amount each run, and peak RSS varied by 15%.
DRIVER_MEM = "1g"


def configure_env(work: str, event_log_dir: str | None) -> dict:
    """Set the process environment every Spark start in this run uses.
    Returns the settings, which the harness prints with the results."""
    cpus, mem = host_cpus(), DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false",
                   f"--conf spark.eventLog.dir=file://{event_log_dir}"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": mem,
            "event_log": event_log_dir is not None}


def _identity(batches):
    yield from batches


def start_session():
    """-> (spark, {"jvm_start_s", "worker_spawn_s", "setup_s"}).

    Set-up runs from ``get_session`` to the first completed action; the
    action runs a Python function on every core, so it includes the
    Python-worker spawn as well as the JVM start."""
    from groove_to_helpscout_migration_tool_spark import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench")
    t1 = time.perf_counter()
    n = host_cpus()
    spark.range(0, n, 1, n).mapInPandas(_identity, "id long").collect()
    t2 = time.perf_counter()
    return spark, {"jvm_start_s": t1 - t0, "worker_spawn_s": t2 - t1,
                   "setup_s": t2 - t0}


def stop_session(spark) -> None:
    """Stop the context and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


class PeakRss:
    """Samples the summed resident memory (VmRSS) of the Spark JVM and its
    Python-worker descendants and keeps the largest sum seen, in MB.

    Other descendants are skipped: a child the JVM is spawning shares the
    JVM's address space until it execs, so counting it would add the
    JVM's whole RSS a second time for that one sample."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = _vm_rss_kb(self.root_pid), list(children.get(self.root_pid, []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            if _is_python(pid):
                total += _vm_rss_kb(pid)
        self.peak_kb = max(self.peak_kb, total)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except OSError:
        return False


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended between listing and reading
    return 0
