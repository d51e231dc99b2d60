"""Run context shared by every workload: the run's own working directory,
environment and SparkSession life cycle, set-up repetitions and the
result record."""

from __future__ import annotations

import os
import statistics
import sys
import time

from perfbench.trace import Tracer, peak_rss_mb

# Set-ups per run; setup_s is their median.
SETUP_REPEATS = 3


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0


def driver_memory() -> str:
    """An eighth of the machine, between 1 and 4 GB: the inputs are small,
    and the JVM must not claim memory the machine does not have."""
    return f"{max(1, min(4, round(_mem_total_gb() / 8)))}g"


def configure_env(root: str, work: str, cores: int) -> None:
    """Environment the JVM and its Python workers inherit: the package on
    PYTHONPATH (workers import it by name), Spark's core count, and
    scratch space inside the run's working directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [root] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (the launcher and the driver): scratch files in
    # the run's directory, and no /tmp/hsperfdata_* perf-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if root not in sys.path:
        sys.path.insert(0, root)


class Run:
    """One benchmark run: seed, time budget, tracer, counters, session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.setups: list[float] = []
        self.layer: dict[str, float] = {}
        self.measured_s = 0.0

    def dir(self, name: str) -> str:
        """A new directory of this run's working directory."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def start_session(self):
        """Start the run's one SparkSession, with its own warehouse
        directory so no landing or table of another run is adopted."""
        from franzoxide_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                driver_memory=driver_memory(),
                extra_conf={
                    "spark.sql.warehouse.dir": self.dir("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t0
        return self.spark

    def timed_setups(self, setup) -> None:
        """Run ``setup(rep)`` SETUP_REPEATS times, each timed. The first
        runs on a cold engine and is also reported on its own."""
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            setup(rep)
            self.setups.append(time.perf_counter() - t0)
        self.layer["setup.first_s"] = self.setups[0]

    def rss_mb(self) -> float:
        pids = [os.getpid()]
        try:
            pids.append(int(self.spark._jvm.ProcessHandle.current().pid()))
        except Exception:  # noqa: BLE001 - no JVM: the Python side alone
            pass
        return peak_rss_mb(pids)

    def setup_s(self) -> float:
        return statistics.median(self.setups)

    def stop(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
