"""The CDC replay workload, driven through the package's public
calls: ``sources.binlog`` generates and stores the binlog,
``streaming.replay.process_batch`` replays it into a
``sinks.lakehouse.LakehouseTable``. Closed loop: one driver thread issues
each call after the previous one returns.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.operators.normalize_cdc import normalize_events, valid_flag
from etl_rs_spark.session import force
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events, write_segments
from etl_rs_spark.streaming.replay import ReplayConfig, process_batch

import cdc_check
from harness import N_BUCKETS, Clock, Result, dir_bytes, median, reset_dir, tail
from spans import Tracer, stage_metrics

#: Kafka-style source partitions of the generated binlog
N_PARTITIONS = 32
#: which bulk calls a traced run traces, in order: each traced call sits
#: between two untraced ones, so a drift across the calls cancels out of
#: the tracing overhead
BULK_TRACED = (False, True, False, True, False)
#: every commit adds one file to each of the 32 buckets; a bucket is
#: compacted when it holds more files than this. After the untimed
#: first commit, commits then come in periods of this many: the plain
#: ones, then one that compacts
AUTO_COMPACT_FILES = 3
#: repetitions of each per-layer probe; the median is reported
PROBE_REPS = 3


@dataclass(frozen=True)
class ReplaySize:
    #: events of the bulk binlog
    n_events: int = 60_000
    n_docs: int = 6_000
    #: the incremental binlog is stored as this many ordered segments of
    #: ``segment_events`` events; the incremental phase replays the first
    #: one untimed and whole compaction periods of the rest
    n_segments: int = 7
    segment_events: int = 2_400
    min_cycles: int = AUTO_COMPACT_FILES


def _spec(n_events: int, n_docs: int, seed: int) -> BinlogSpec:
    # the generator's default skew: 30% of events on 0.1% of the keys,
    # 2% duplicate deliveries, 1% wrong n_tok, ~2% out-of-vocab tokens
    return BinlogSpec(n_events=n_events, n_docs=n_docs, n_partitions=N_PARTITIONS, seed=seed)


def _current_manifest_bytes(table: LakehouseTable) -> int:
    snap = os.path.join(table.path, "_snapshots")
    with open(os.path.join(snap, "CURRENT")) as f:
        return os.path.getsize(os.path.join(snap, f"v{int(f.read())}.json"))


def _batch_ok(r: dict) -> list[str]:
    if r.get("skipped"):
        return [f"batch skipped: {r}"]
    if "auto_compact_error" in r:
        return [f"auto-compaction failed: {r['auto_compact_error']}"]
    return []


def _replay_span_metrics(spans: list) -> dict[str, float]:
    """Fixed-cost figures of traced ``process_batch`` spans."""
    overlaps = []
    for sp in spans:
        # process_batch runs its envelope aggregation on an
        # InheritableThread, whose jobs carry that helper's call site
        env = [j for j in sp.jobs if j.name.startswith("copy_local_properties")]
        rest = [j for j in sp.jobs if j not in env]
        env_s = sum(j.end - j.start for j in env)
        if env_s > 0:
            both = sum(
                max(0.0, min(e.end, r.end) - max(e.start, r.start)) for e in env for r in rest
            )
            overlaps.append(min(1.0, both / env_s))
    return {
        "replay.jobs_per_batch": median([len(sp.jobs) for sp in spans]),
        "replay.driver_gap_s": median([sp.wall_s - sp.busy_s() for sp in spans]),
        "replay.envelope_overlap": median(overlaps),
    }


def _probe_layers(spark, tracer: Tracer, binlog: list[str], res: Result, work: str) -> None:
    """Per-layer figures from forced prefixes of ``process_batch``'s own
    dataflow (scan -> valid_flag -> lww_agg -> normalize_events) on the
    stored binlog, and an isolated ``LakehouseTable.merge`` of
    pre-materialized winners."""
    cfg = ReplayConfig()
    key, order = "doc_id", ("lsn", "offset")

    def scan():
        return spark.read.parquet(*binlog)

    def flag():
        return valid_flag(scan(), vocab=cfg.vocab).filter("_valid").drop("_valid", "partition")

    def lww():
        return lww_agg(flag(), key=key, order=order)

    def normalize():
        return normalize_events(lww(), vocab=cfg.vocab, max_len=cfg.max_len).drop("_valid")

    prefixes = [("sources.scan", scan), ("normalize_cdc.flag", flag), ("lww", lww), ("normalize_cdc.normalize", normalize)]
    walls: dict[str, float] = {}
    for name, plan in prefixes:
        ws = []
        for _ in range(PROBE_REPS):
            with tracer.span(f"probe.{name}") as sp:
                force(plan())
            ws.append(sp.wall_s)
        walls[name] = median(ws)
    # each layer's time: its prefix minus the prefix before it
    prev = 0.0
    for name, _ in prefixes:
        res.layers[f"{name}_s" if name != "lww" else "lww.s"] = walls[name] - prev
        prev = walls[name]

    rows_in = scan().count()
    lww_spans = tracer.named("probe.lww")[-1:]
    stages = [st for sp in lww_spans for st in sp.stages]
    map_stages = [st for st in stages if st.shuffle_write_bytes > 0]
    reduce_stages = [st for st in stages if st.shuffle_read_bytes > 0]
    red = max(reduce_stages, key=lambda st: st.run_s, default=None)
    res.layers.update({
        "lww.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
        "lww.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages),
        "lww.spill_bytes": sum(st.spill_bytes for st in stages),
        "lww.combine_ratio": sum(st.shuffle_write_records for st in map_stages) / rows_in,
        "lww.task_skew": red.task_max_s / red.task_p50_s if red and red.task_p50_s > 0 else 1.0,
    })
    res.layers.update(stage_metrics("span.lww", lww_spans))

    winners_path = os.path.join(work, "winners")
    normalize().write.mode("overwrite").parquet(winners_path)
    ws = []
    for k in range(PROBE_REPS):
        table = LakehouseTable(spark, reset_dir(os.path.join(work, f"merge-probe-{k}")), n_buckets=N_BUCKETS)
        with tracer.span("lakehouse.merge") as sp:
            table.merge(spark.read.parquet(winners_path), f"probe:{k}")
        ws.append(sp.wall_s)
    res.layers["lakehouse.merge_s"] = median(ws)
    res.layers.update(stage_metrics("span.merge", tracer.named("lakehouse.merge")))


def cdc_replay(spark, tracer: Tracer, seed: int, seconds: float, work: str, res: Result,
               size: ReplaySize = ReplaySize()) -> float:
    """Incremental phase, then bulk phase; returns the untimed warm-up
    seconds (part of set-up).

    Two binlogs of different seeds are stored by ``write_segments``.
    Incremental: the first segment of one is committed untimed into a
    MOR table with auto-compaction; then each cycle commits the next
    segment and forces a snapshot read, in whole compaction periods,
    until the timed phase has lasted ``seconds`` (at least
    ``min_cycles`` cycles) or the segments run out. Bulk:
    ``process_batch`` of the other, whole, into an empty COW table, once
    per entry of ``BULK_TRACED``, each into a fresh table."""
    n_inc = size.n_segments * size.segment_events
    with tracer.span("sources.gen", traced=False) as sp:
        segs = write_segments(gen_events(spark, _spec(n_inc, size.n_docs, seed)),
                              os.path.join(work, "binlog"), size.n_segments, n_inc)
        bulk = write_segments(gen_events(spark, _spec(size.n_events, size.n_docs, seed + 1)),
                              os.path.join(work, "bulk-binlog"), 1, size.n_events)
    res.layers["sources.gen_s"] = sp.wall_s

    # warm-up: the incremental table's first commit, into an empty table
    # unlike every timed one, a read, and a bulk call
    t0 = time.perf_counter()
    table = LakehouseTable(spark, reset_dir(os.path.join(work, "incremental")), n_buckets=N_BUCKETS,
                           mode="mor", auto_compact_files=AUTO_COMPACT_FILES)
    res.check("first incremental batch", _batch_ok(process_batch(table, spark.read.parquet(segs[0]), "seg:0")))
    force(table.read())
    warm_bulk = LakehouseTable(spark, reset_dir(os.path.join(work, "bulk-warm")), n_buckets=N_BUCKETS)
    res.check("warm-up bulk batch", _batch_ok(process_batch(warm_bulk, spark.read.parquet(*bulk), "warm")))
    warm_s = time.perf_counter() - t0

    clock = Clock(seconds, res)
    cycles, cycles_cpu, commits, compacted, reads = [], [], [], [], []
    manifest_bytes, manifest_ms, live_max = [], [], []
    # whole periods only: every run's cycles hold the same share of
    # compacting commits, so their mean is the amortized cost of a commit
    # and a read, compaction included
    periods = (len(segs) - 1) // AUTO_COMPACT_FILES
    for i, seg in enumerate(segs[1 : 1 + periods * AUTO_COMPACT_FILES], start=1):
        if (len(cycles) >= size.min_cycles and clock.expired()
                and len(cycles) % AUTO_COMPACT_FILES == 0):
            break
        events = spark.read.parquet(seg)
        with tracer.span("replay.process_batch") as sp:
            r = process_batch(table, events, f"seg:{i}")
        res.check(f"incremental batch {i}", _batch_ok(r))
        commits.append(sp.wall_s)
        compacted.append(bool(r.get("auto_compacted")))
        t = time.perf_counter()
        man = table.manifest()
        manifest_ms.append(1000.0 * (time.perf_counter() - t))
        manifest_bytes.append(_current_manifest_bytes(table))
        live_max.append(max(len(f) for f in man["buckets"].values()))
        with tracer.span("lakehouse.read") as rsp:
            force(table.read())
        res.check(f"read after batch {i}", [])
        reads.append(rsp.wall_s)
        cycles.append(commits[-1] + reads[-1])
        cycles_cpu.append(sp.cpu_s + rsp.cpu_s)

    bulk_calls, bulk_cpu, lakes = [], [], []
    for i, traced in enumerate(BULK_TRACED):
        lake = LakehouseTable(spark, reset_dir(os.path.join(work, f"bulk-{i}")), n_buckets=N_BUCKETS)
        events = spark.read.parquet(*bulk)
        with tracer.span("replay.bulk_batch", traced=traced) as sp:
            r = process_batch(lake, events, f"bulk:{i}")
        res.check(f"bulk batch {i}", _batch_ok(r))
        bulk_calls.append(sp.wall_s)
        bulk_cpu.append(sp.cpu_s)
        lakes.append(lake)
    timed_s = clock.finish()
    applied = segs[: 1 + len(cycles)]

    n_rows = spark.read.parquet(*bulk).count()
    res.e2e["events_per_cpu_s"] = n_rows / median(bulk_cpu)
    res.e2e["call_cpu_s"] = statistics.mean(cycles_cpu)
    t = tail(commits)
    res.notes.append(
        f"bulk: {n_rows} events, calls " + " ".join(f"{w:.2f}s" for w in bulk_calls)
        + f"; incremental: {len(cycles)} cycles, commit p50 {median(commits):.2f}s"
        + (f" p{t[0]:.0f} {t[1]:.2f}s" if t else "")
        + f", read p50 {median(reads):.2f}s, compactions {sum(compacted)}; cycles "
        + " ".join(f"{c:.2f}s" for c in cycles)
        + "; cpu: bulk calls " + " ".join(f"{c:.2f}s" for c in bulk_cpu)
        + ", cycles " + " ".join(f"{c:.2f}s" for c in cycles_cpu)
    )
    plain = [w for w, c in zip(commits, compacted) if not c]
    comp = [w for w, c in zip(commits, compacted) if c]
    res.layers.update({
        "replay.bulk_events_per_s": n_rows / median(bulk_calls),
        "replay.cycle_s": statistics.mean(cycles),
        "lakehouse.read_p50_s": median(reads),
        "lakehouse.write_amp": dir_bytes(os.path.join(table.path, "data"))
        / sum(dir_bytes(s) for s in applied),
        "lakehouse.manifest_bytes": manifest_bytes[-1],
        "lakehouse.manifest_read_ms": median(manifest_ms),
        "lakehouse.compactions": sum(compacted),
        "lakehouse.compact_batch_s": median(comp),
        "lakehouse.plain_batch_s": median(plain),
        "lakehouse.live_files_max": max(live_max),
        "replay.batch_tail_s": t[1] if t else max(commits),
        "replay.bulk_write_amp": dir_bytes(os.path.join(lakes[-1].path, "data"))
        / sum(dir_bytes(s) for s in bulk),
    })
    if tracer.enabled:
        on = [w for w, t in zip(bulk_calls, BULK_TRACED) if t]
        off = [w for w, t in zip(bulk_calls, BULK_TRACED) if not t]
        res.layers["trace.overhead_frac"] = median(on) / median(off) - 1.0
        inc = tracer.named("replay.process_batch")
        res.layers.update(_replay_span_metrics(inc))
        res.layers.update(stage_metrics("span.process_batch", inc))
        res.layers.update(stage_metrics("span.read", tracer.named("lakehouse.read")))
        _probe_layers(spark, tracer, bulk, res, work)

    cfg = ReplayConfig()
    t_check = time.perf_counter()
    cases = [(t, bulk) for t in lakes] + [(table, applied)]
    names = [f"bulk table {i}" for i in range(len(lakes))] + ["incremental table"]
    for name, failures in zip(names, cdc_check.check_replay(
            cases, os.path.join(work, "state"), cfg.vocab, cfg.max_len)):
        res.check(f"final state of {name}", failures)
    res.notes.append(f"phases: gen {res.layers['sources.gen_s']:.1f}s warm-up {warm_s:.1f}s "
                     f"timed {timed_s:.1f}s check {time.perf_counter() - t_check:.1f}s")
    return warm_s
