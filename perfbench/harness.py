"""Run hygiene: a fresh temporary root per run, one Spark session with
stated settings, peak memory readings, and a teardown that leaves no
process behind.

Everything a run writes (Spark warehouse and local dirs, JVM and
Python temp files, the online store, indexes, stream checkpoints and
outputs) goes under ``<checkout>/.perfbench_runs/<run id>/``, which is
deleted when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)

CORES = 4
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
SHUFFLE_PARTITIONS = 4


def spark_settings(root: str, traced: bool = False) -> dict[str, str]:
    """The Spark configuration every run states in its output.  A
    traced run keeps every job, stage and SQL execution in the status
    store, so none is evicted before it is read."""
    keep = (
        {k: "1000000" for k in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages",
            "spark.sql.ui.retainedExecutions",
        )}
        if traced else {}
    )
    return keep | {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        # A fixed heap and young generation keep G1 from resizing either
        # on pause-time predictions, which made the JVM's resident size
        # swing by half between runs.  The heap is not touched at start,
        # so the resident size follows what the program uses: the young
        # generation plus the old regions its live data reaches, plus
        # off-heap memory.  No hsperfdata file goes to the system temp
        # directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} "
            f"-Dderby.system.home={os.path.join(root, 'derby')}"
        ),
    }


class Run:
    """One benchmark run: its root directory, Spark session and
    teardown.  Use as a context manager."""

    def __init__(self, name: str, traced: bool = False):
        self.traced = traced
        self.root = os.path.join(
            CHECKOUT, ".perfbench_runs", f"{name}-{os.getpid()}-{time.time_ns()}"
        )
        self.spark = None
        self.children: list[subprocess.Popen] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def __enter__(self) -> "Run":
        for d in ("tmp", "spark-local", "derby"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        # the JVM spark-submit starts to build the command line
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = self.path("tmp")
        return self

    def start_spark(self):
        from pyspark.sql import SparkSession

        builder = SparkSession.builder.appName("perfbench")
        for k, v in spark_settings(self.root, self.traced).items():
            builder = builder.config(k, v)
        # spark-submit writes derby.log and metastore_db to the cwd
        cwd = os.getcwd()
        os.chdir(self.root)
        try:
            self.spark = builder.getOrCreate()
        finally:
            os.chdir(cwd)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def spawn(self, args: list[str], **kw) -> subprocess.Popen:
        proc = subprocess.Popen(args, cwd=self.root, **kw)
        self.children.append(proc)
        return proc

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident memory, in MB, of the driver Python process
        and of its JVM, from ``VmHWM`` in ``/proc``."""
        jvm = _jvm_pid()
        return {
            "python": _vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm": 0.0 if jvm is None else _vm_hwm_kb(jvm) / 1024.0,
        }

    def __exit__(self, *exc) -> None:
        for proc in self.children:
            if proc.poll() is None:
                proc.terminate()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return None if proc is None else proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
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


class Workload:
    """What both workloads share: their run, seed, table scale and
    tracer, the timed set-up steps, and the count of checked operations
    and of failures."""

    def __init__(self, run: Run, seed: int, scale: float, tracer):
        self.run = run
        self.seed = seed
        self.scale = scale
        self.tr = tracer
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def _timed(self, name: str, fn):
        """Run one set-up step as a span and record its wall time."""
        t0 = time.monotonic()
        with self.tr.span(f"setup.{name}"):
            out = fn()
        self.setup[name] = time.monotonic() - t0
        return out
