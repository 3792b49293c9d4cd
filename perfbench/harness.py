"""Run context shared by the workloads: the Spark session's lifecycle,
the per-run directory, correctness bookkeeping and process-tree memory.

Everything a run writes goes under its own directory in the checkout:
tables, manifests, output directories, event logs, warehouse, Spark
scratch, JVM and Python temp files. The directory is removed when the
run ends, and the JVM and every Python worker are stopped and waited
for.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Checks:
    """Operations attempted and failed. An operation fails when it raises
    or when the check that follows it finds a wrong result."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(f"{op}: {p}" for p in problems)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    cores: int
    run_dir: str
    tracer: Tracer
    checks: Checks = field(default_factory=Checks)
    spark: object = None
    # seconds / counts measured by the workload, keyed by metric name
    metrics: dict = field(default_factory=dict)
    # raw sample lists behind the medians, for the human-readable report
    samples: dict = field(default_factory=dict)

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- session -----------------------------------------------------

    def start_session(self):
        """Start (or, after ``stop_session``, restart in the same JVM) the
        session through the program's own ``get_spark``, on local[N] with
        N shuffle partitions."""
        from ovalspark.session import get_spark

        for d in ("spark-local", "tmp", "warehouse", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        # read when the JVM launches; Spark prefers SPARK_LOCAL_DIRS over
        # spark.local.dir, so both point into the run directory
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        # spark-submit's launcher JVM, like the driver JVM below, would
        # otherwise keep an hsperfdata file in the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.memory": "2g",
            # prepended to the session's own extraJavaOptions; no hsperfdata
            # file in the system temp directory
            "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def settle(self) -> None:
        """Between timed passes: drop cached data and collect garbage in
        the JVM and in Python."""
        import gc

        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


def setup_rounds(run: Run, rounds: int, load) -> list[float]:
    """Set up ``rounds`` times and return each round's seconds. Round 1
    starts the session cold (JVM launch); later rounds stop it, untimed,
    and start a fresh one in the same JVM. Each round then calls
    ``load(i)``, which reads the workload's inputs."""
    times = []
    for i in range(rounds):
        if i:
            run.stop_session()
        with run.tracer.span("setup.round"):
            t0 = time.perf_counter()
            with run.tracer.span("setup.session"):
                run.start_session()
            if i == 0:
                run.metrics["setup.cold_start_s"] = time.perf_counter() - t0
            load(i)
            times.append(time.perf_counter() - t0)
    return times


# -- processes ----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    process below it: the JVM and its Python workers."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def shutdown(run: Run, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    try:
        run.stop_session()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        deadline = time.monotonic() + timeout_s
        alive = [p for p in kids if _alive(p)]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _alive(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(_alive(p) for p in alive) and time.monotonic() < deadline + 10:
            time.sleep(0.1)


def dir_files(root: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass
    return out
