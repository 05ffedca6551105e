"""Shared pieces of the benchmark: the fixed Spark session, the run's
private work directory, timing helpers and the result record."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

#: Session conf, fixed for every workload (also listed in README.md).
#: ``local[N]`` with N = min(4, cpu count); a 3 GB driver heap keeps a
#: run well inside a 15 GB machine shared with other work.
CORES = min(4, os.cpu_count() or 1)
SPARK_CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.app.name": "bacon_spark-perfbench",
    "spark.driver.memory": "3g",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.host": "127.0.0.1",
    "spark.driver.bindAddress": "127.0.0.1",
}

#: End-to-end metrics: every workload emits all of them (README.md says
#: what "first" and "follow" operations are in each workload). Latencies
#: are means: both workloads mix operations whose costs differ by orders
#: of magnitude, and a percentile that falls between two such clusters
#: jumps from run to run.
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("requests_per_s", "1/s"),
    ("first_ms.mean", "ms"),
    ("follow_ms.mean", "ms"),
)

#: how many times a run repeats the workload's set-up to report its median
SETUP_REPEATS = 3


def now() -> float:
    return time.perf_counter()


class Workdir:
    """Everything a run writes lives under ``<checkout>/.perfbench_work``,
    in a per-run directory (generated inputs, temp files, Spark scratch,
    library state) that is removed when the run ends; only trace files
    are kept, in ``traces/``."""

    def __init__(self, root: str):
        self.root = os.path.abspath(os.path.join(root, ".perfbench_work"))
        self.run = os.path.join(self.root, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def data_dir(self, seed: int, sf: float) -> str:
        return os.path.join(self.run, "data", f"seed{seed}-sf{sf:g}")

    def enter(self) -> None:
        """Point every temp-file user at the run directory: Python's
        tempfile (py4j connection files, the worker zip), the JVMs, Spark
        scratch and the library's state root."""
        os.environ["TMPDIR"] = self.tmp
        # every JVM (the spark-submit launcher too) would otherwise keep a
        # perf-data file under /tmp while it runs
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run, "spark-local")
        os.environ["SPARK_GRAFT_STATE_DIR"] = os.path.join(self.run, "state")
        tempfile.tempdir = self.tmp

    def remove(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def start_session(work: Workdir):
    """The run's single SparkSession, built from SPARK_CONF."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    b = (
        b.config("spark.driver.extraJavaOptions", f"-Dderby.system.home={work.run}")
        .config("spark.local.dir", os.path.join(work.run, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work.run, "warehouse"))
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _keep_stream_scratch_in(work.tmp)
    return spark


def _keep_stream_scratch_in(base: str) -> None:
    """The streaming operators put checkpoints on /dev/shm when it exists;
    the benchmark keeps all writes in its checkout, so it sends them to the
    run's temp dir instead."""
    try:
        from bacon_spark.streaming import windows
    except ImportError:
        return
    if hasattr(windows, "scratch_dir"):
        windows.scratch_dir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=base)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """High-water resident set of this (driver) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Outcome:
    """Operation counts for the result line: every timed operation is
    *attempted*; one that raised or gave a wrong answer has *failed*."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {what}", file=sys.stderr)


def end_to_end(setup_s, n_ops, timed_s, first_ms, follow_ms) -> dict:
    """The end-to-end metric values of one untraced run."""
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb(),
        "requests_per_s": n_ops / timed_s,
        "first_ms.mean": statistics.fmean(first_ms),
        "follow_ms.mean": statistics.fmean(follow_ms),
    }


def close(a, b, rel: float = 1e-9) -> bool:
    """Numeric equality up to summation-order rounding (None == None)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    return a == b
