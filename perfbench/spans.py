"""Spans around calls into the package, with Spark stage metrics.

A span tags every Spark job it causes with its own job group (threads
started through ``pyspark.InheritableThread`` inherit it, so the
concurrent envelope job of ``process_batch`` lands in the caller's
span). After the call, the span's jobs and stages are read from Spark's
status store through py4j; the store is filled even with the UI off.
With tracing disabled a span only measures wall time and CPU time.

CPU time is that of the Spark JVM, which in local mode runs every task,
and of the Python driver, less the time the JVM spent compiling code.
On a shared virtual machine, time the hypervisor gives to other guests
(steal) lengthens wall times but is not charged to these processes; and
the JIT compiler is still busy for minutes after the warm-up, at a pace
that varies from run to run.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: task-time quantiles asked of the status store
QUANTILES = (0.5, 1.0)
#: what :func:`stage_metrics` reports for every span name
SPAN_METRICS = (
    "executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_p50_s", "task_max_s",
)


@dataclass
class Stage:
    run_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    spill_bytes: int
    task_p50_s: float
    task_max_s: float


@dataclass
class Job:
    name: str
    start: float  # epoch seconds
    end: float


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    #: CPU seconds of the JVM and the Python driver during the span, less
    #: the JVM's compilation time
    cpu_s: float = 0.0
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def busy_s(self) -> float:
        """Length of the union of this span's job intervals."""
        busy, reach = 0.0, float("-inf")
        for j in sorted(self.jobs, key=lambda j: j.start):
            lo = max(j.start, reach)
            if j.end > lo:
                busy += j.end - lo
            reach = max(reach, j.end)
        return busy


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` and its reaped
    children, plus those of this process."""
    with open(f"/proc/{pid}/stat") as f:
        # fields after the parenthesized command: utime is the 12th
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(v) for v in fields[11:15]) / _TICK + time.process_time()


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Records spans. ``enabled=False`` keeps only wall times and never
    touches job groups or the status store."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._n = 0
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._jit = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    @contextmanager
    def span(self, name: str, traced: bool = True):
        """Time the enclosed calls; with tracing enabled and ``traced``
        set, also collect their Spark jobs and stages."""
        sc = self.spark.sparkContext
        group = None
        if self.enabled and traced:
            self._n += 1
            group = f"perfbench-{self._n}"
            sc.setJobGroup(group, name)
        sp = Span(name, time.time(), 0.0)
        cpu0 = self._cpu_s()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.cpu_s = self._cpu_s() - cpu0
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._resolve(sp, group)
            self.spans.append(sp)

    def _cpu_s(self) -> float:
        return cpu_s(self.jvm_pid) - self._jit.getTotalCompilationTime() / 1000.0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def _resolve(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        qs = gw.new_array(gw.jvm.double, len(QUANTILES))
        for i, q in enumerate(QUANTILES):
            qs[i] = q
        no_status = gw.jvm.java.util.ArrayList()
        seen: set[int] = set()
        for jid in sc._jsc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            start, end = _epoch_s(jd.submissionTime()), _epoch_s(jd.completionTime())
            if start is not None and end is not None:
                sp.jobs.append(Job(jd.name(), start, end))
            ids = jd.stageIds()
            for k in range(ids.length()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_status, True, qs)
                for a in range(attempts.length()):
                    sp.stages.append(_stage(attempts.apply(a)))


def _stage(sd) -> Stage:
    p50 = mx = 0.0
    dist = sd.taskMetricsDistributions()
    if dist.isDefined():
        dur = dist.get().duration()
        p50, mx = dur.apply(0) / 1000.0, dur.apply(1) / 1000.0
    return Stage(
        run_s=sd.executorRunTime() / 1000.0,
        gc_s=sd.jvmGcTime() / 1000.0,
        shuffle_read_bytes=sd.shuffleReadBytes(),
        shuffle_write_bytes=sd.shuffleWriteBytes(),
        shuffle_write_records=sd.shuffleWriteRecords(),
        spill_bytes=sd.diskBytesSpilled(),
        task_p50_s=p50,
        task_max_s=mx,
    )


def stage_metrics(prefix: str, spans: list[Span]) -> dict[str, float]:
    """Spark metrics of one span, as the median over ``spans``. Task
    times come from the span's stage with the most executor time."""
    per_span = []
    for sp in spans:
        heavy = max(sp.stages, key=lambda st: st.run_s, default=None)
        per_span.append({
            "executor_run_s": sum(st.run_s for st in sp.stages),
            "gc_s": sum(st.gc_s for st in sp.stages),
            "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in sp.stages),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in sp.stages),
            "spill_bytes": sum(st.spill_bytes for st in sp.stages),
            "task_p50_s": heavy.task_p50_s if heavy else 0.0,
            "task_max_s": heavy.task_max_s if heavy else 0.0,
        })
    return {
        f"{prefix}.{k}": statistics.median(m[k] for m in per_span) if per_span else 0.0
        for k in SPAN_METRICS
    }
