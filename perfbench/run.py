"""Benchmark of the CDC engine: one workload per run.

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for sizes and why each was chosen):

- ``cdc_replay``: an incremental phase (ordered small segments of a
  stored synthetic binlog, one ``process_batch`` each, into a
  merge-on-read 32-bucket table with auto-compaction, each commit
  followed by a forced snapshot read) and a bulk phase (the whole binlog
  replayed by one ``process_batch`` into an empty table);
- ``query_mix``: operator queries of ``__spark_entry__`` on a seeded
  corpus.

End-to-end metrics: ``setup_s`` (wall seconds of session start and
untimed warm-up), ``events_per_cpu_s`` (binlog rows of a bulk call, or
query input rows of a pass, per CPU second), ``call_cpu_s`` (CPU seconds
of a call: replay, the mean commit-and-read cycle over whole compaction
periods; mix, the median pass) and ``peak_rss_mb`` (the JVM's
``VmHWM``). CPU seconds are the Spark JVM's and the Python driver's,
less JIT compilation (see ``spans``): on a shared host they stay steady
where wall times swing with other guests' load. The wall-time figures
are per-layer metrics (``replay.bulk_events_per_s``, ``replay.cycle_s``,
``query.pass_s``), as are waits that use no CPU
(``replay.driver_gap_s``).

Every run generates its inputs from ``--seed``, warms up untimed,
measures for ``--seconds``, checks every output against a DuckDB
oracle, and prints one JSON object as its last line. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` tags each call's Spark
jobs with a job group, reads stage metrics from Spark's status store,
and reports the per-layer metrics instead. A per-layer metric of a
layer the workload never calls reads 0. Exit status: 0 when every check
passed, 1 when one failed, 2 when the run could not complete.

A traced run also times ``jobs/scaling_bench``'s no-JVM memory-streaming
and CPU-burn probes before and after the run and its timed phase
(``host.*``): they measure nothing of the engine, and tell a slow host
phase apart from a slow change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import harness

E2E = {
    "setup_s": "s",
    "events_per_cpu_s": "1/cpu-s",
    "call_cpu_s": "cpu-s",
    "peak_rss_mb": "MB",
}

_SPAN_UNITS = {
    "executor_run_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "task_p50_s": "s", "task_max_s": "s",
}
_QUERIES = (
    "q39_repetition", "q40_redact_pii", "q34_pack_sequences",
    "q42_cap_per_group", "q18_minhash_signatures", "q33_ivf_topk",
    "q37_dedup_components",
)
LAYERS = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "sources.gen_s": "s",
    "sources.scan_s": "s",
    "normalize_cdc.flag_s": "s",
    "normalize_cdc.normalize_s": "s",
    "lww.s": "s",
    "lww.shuffle_write_bytes": "bytes",
    "lww.shuffle_read_bytes": "bytes",
    "lww.spill_bytes": "bytes",
    "lww.combine_ratio": "ratio",
    "lww.task_skew": "ratio",
    "lakehouse.merge_s": "s",
    "lakehouse.read_p50_s": "s",
    "lakehouse.write_amp": "ratio",
    "lakehouse.manifest_bytes": "bytes",
    "lakehouse.manifest_read_ms": "ms",
    "lakehouse.compactions": "count",
    "lakehouse.compact_batch_s": "s",
    "lakehouse.plain_batch_s": "s",
    "lakehouse.live_files_max": "count",
    "replay.jobs_per_batch": "count",
    "replay.driver_gap_s": "s",
    "replay.envelope_overlap": "frac",
    "replay.batch_tail_s": "s",
    "replay.bulk_write_amp": "ratio",
    "replay.bulk_events_per_s": "1/s",
    "replay.cycle_s": "s",
    "query.pass_s": "s",
    **{f"query.{q}_s": "s" for q in _QUERIES},
    **{f"query.{q}_shuffle_bytes": "bytes" for q in _QUERIES},
    **{
        f"span.{sp}.{m}": u
        for sp in ("process_batch", "read", "lww", "merge", "query")
        for m, u in _SPAN_UNITS.items()
    },
    "host.mem_stream_s": "s",
    "host.cpu_burn_s": "s",
    "trace.overhead_frac": "frac",
}

WORKLOADS = ("cdc_replay", "query_mix")


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> harness.Result:
    harness.configure(work)
    from query_mix import query_mix
    from replay_workloads import cdc_replay
    from spans import Tracer

    fn = {"cdc_replay": cdc_replay, "query_mix": query_mix}[workload]
    res = harness.Result(trace=trace)
    res.probe()
    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    start_s = time.perf_counter() - t0
    try:
        warm_s = fn(spark, Tracer(spark, trace), seed, seconds, work, res)
        res.e2e["setup_s"] = start_s + warm_s
        res.e2e["peak_rss_mb"] = harness.jvm_peak_rss_mb(spark)
    finally:
        harness.stop_spark(spark)
    res.probe()
    if trace:
        res.layers["host.mem_stream_s"] = statistics.mean(p[0] for p in res.probes)
        res.layers["host.cpu_burn_s"] = statistics.mean(p[1] for p in res.probes)
        res.layers["session.start_s"] = start_s
        res.layers["setup.warmup_s"] = warm_s
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(harness.ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": res.layers.get(k, 0), "unit": u} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in E2E.items()}
    for note in res.notes:
        print(note)
    print(f"error_rate {res.failed}/{res.attempted} = {res.failed / res.attempted:.4f}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
