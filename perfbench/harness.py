"""Resource settings, Spark session lifetime and statistics shared by
the workloads.

Resource settings live here, not in the package: ``get_spark`` reads
them from the environment, so :func:`configure` must run before
``etl_rs_spark`` is imported.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark's local[k]: at most 4 cores, never more than the host has
CPUS = min(4, len(os.sched_getaffinity(0)))
#: the driver JVM holds every executor in local mode; 3g covers the
#: largest workload with room to spare on a 15 GB host
DRIVER_MEM = "3g"
#: a fixed young generation keeps collection cost, and so the timings,
#: steady; the old generation grows with what the engine retains, so
#: the JVM's peak RSS tracks it (a fixed -Xms would pin RSS to the heap
#: size, and the default small initial heap costs much time in GC)
YOUNG_GEN = "1g"
#: shuffle partitions divide the table's bucket count, so an upstream key
#: shuffle leaves buckets co-located and the bulk write needs no extra
#: repartition: the bucket-aligned write path is the one measured
SHUFFLE_PARTITIONS = 8
N_BUCKETS = 32


def configure(work: str) -> None:
    """Point every file Spark, Python and the JVM write under ``work``
    and put the repository on ``sys.path``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for p in (ROOT, os.path.join(ROOT, "jobs")):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str):
    """``get_spark`` with the benchmark's resource settings."""
    from etl_rs_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xmn{YOUNG_GEN} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (``VmHWM``) of the Spark JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it:
    ``(percentile, value, n)``; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return 100.0 * (k + 1) / n, sorted(values)[k], n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def host_probe() -> tuple[float, float]:
    """No-JVM calibration: seconds of ``jobs/scaling_bench``'s
    memory-streaming probe and of its CPU-burn probe (median of three)."""
    from scaling_bench import _burn, _stream

    t0 = time.perf_counter()
    _stream(8_000_000)
    stream_s = time.perf_counter() - t0
    burns = []
    for _ in range(3):
        t0 = time.perf_counter()
        _burn(1_000_000)
        burns.append(time.perf_counter() - t0)
    return stream_s, statistics.median(burns)


class Clock:
    """The timed phase of a run: a deadline, and host probes taken just
    before the phase starts and just after it ends."""

    def __init__(self, seconds: float, res: "Result"):
        self.res = res
        res.probe()
        self.seconds = seconds
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def expired(self) -> bool:
        return self.elapsed() >= self.seconds

    def finish(self) -> float:
        """End the phase; returns its seconds."""
        elapsed = self.elapsed()
        self.res.probe()
        return elapsed


@dataclass
class Result:
    """What one workload run measured and checked."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    #: a traced run: the host probes are per-layer figures, and only such
    #: a run spends its time on them
    trace: bool = False
    #: :func:`host_probe` results, taken around the run and its timed phase
    probes: list[tuple[float, float]] = field(default_factory=list)

    def probe(self) -> None:
        if self.trace:
            self.probes.append(host_probe())

    def check(self, what: str, failures: list[str]) -> None:
        """Count one checked operation; record why it failed, if it did."""
        self.attempted += 1
        if failures:
            self.failed += 1
            self.notes += [f"FAIL {what}: {m}" for m in failures]
