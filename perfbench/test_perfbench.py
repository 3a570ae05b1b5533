"""Tests of the benchmark itself: its DuckDB CDC replay against the
repository's reference oracle, each workload at a smoke size, a
corrupted final state, and ``BENCHMARK.json`` against ``run.py``.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402

harness.configure(os.path.join(harness.ROOT, ".bench_work", "tests"))

from pyspark.sql import functions as F  # noqa: E402

import cdc_check  # noqa: E402
import replay_workloads  # noqa: E402
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events  # noqa: E402
from query_mix import MixSize, query_mix  # noqa: E402
from replay_workloads import ReplaySize, cdc_replay  # noqa: E402
from spans import Tracer  # noqa: E402
from tests.oracle_cdc import oracle_replay  # noqa: E402

SMOKE = ReplaySize(n_events=6_000, n_docs=600, n_segments=4, segment_events=250, min_cycles=3)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(harness.ROOT, ".bench_work", "tests")
    s = harness.start_spark(work)
    yield s
    harness.stop_spark(s)


@pytest.mark.parametrize("max_len", [2048, 8])
def test_duckdb_replay_matches_reference_oracle(spark, tmp_path, max_len):
    spec = BinlogSpec(n_events=3_000, n_docs=200, n_partitions=8, seed=5)
    path = str(tmp_path / "binlog")
    gen_events(spark, spec).write.parquet(path)
    events = [r.asDict() for r in spark.read.parquet(path).collect()]
    want = {
        d: {k: v for k, v in row.items() if k != "tag"}
        for d, row in oracle_replay(events, spec.vocab, max_len).items()
    }
    assert want and cdc_check.oracle_state([path], spec.vocab, max_len) == want


def test_cdc_replay_smoke(spark, tmp_path):
    res = harness.Result()
    tracer = Tracer(spark, True)
    cdc_replay(spark, tracer, 3, 0.1, str(tmp_path), res, SMOKE)
    assert res.failed == 0, res.notes
    # the envelope job, which the overlap figure needs, is recognized
    assert all(
        any(j.name.startswith("copy_local_properties") for j in sp.jobs)
        for sp in tracer.named("replay.process_batch")
    )
    assert set(res.e2e) == {"events_per_cpu_s", "call_cpu_s"}
    assert set(res.layers) <= set(run.LAYERS)
    assert res.layers["lww.shuffle_write_bytes"] > 0
    assert res.layers["replay.jobs_per_batch"] > 0
    assert "trace.overhead_frac" in res.layers


def test_query_mix_smoke(spark, tmp_path):
    res = harness.Result()
    size = MixSize(n_docs=200, n_customers=300)
    query_mix(spark, Tracer(spark, True), 3, 0.1, str(tmp_path), res, size)
    assert res.failed == 0, res.notes
    assert set(res.e2e) == {"events_per_cpu_s", "call_cpu_s"}
    assert set(res.layers) <= set(run.LAYERS)
    assert all(res.layers[f"query.{q}_s"] > 0 for q in run._QUERIES)


def test_corrupted_final_state_fails(spark, tmp_path, monkeypatch):
    real = replay_workloads.process_batch

    def corrupting(table, events, batch_key, *a, **kw):
        out = real(table, events, batch_key, *a, **kw)
        # overwrite one replayed document with tokens no event carried
        doc = events.filter(F.col("op") != "delete").first()["doc_id"]
        bogus = spark.createDataFrame(
            [(doc, "update", 10**12, 10**12, [7], 1, "web")],
            "doc_id string, op string, lsn bigint, offset bigint, "
            "tokens array<int>, n_tok int, source string",
        )
        table.merge(bogus, f"corrupt:{batch_key}")
        return out

    monkeypatch.setattr(replay_workloads, "process_batch", corrupting)
    res = harness.Result()
    cdc_replay(spark, Tracer(spark, False), 4, 0.1, str(tmp_path), res, SMOKE)
    assert res.failed > 0
    assert any("final state" in n for n in res.notes)


def test_benchmark_json_matches_run():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert max(m["bound"] for m in spec["end_to_end"]) <= 0.25
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_tail_keeps_ten_samples_beyond():
    assert harness.tail(list(range(10))) is None
    pct, value, n = harness.tail([float(i) for i in range(20)])
    assert (n, value) == (20, 9.0) and sum(v > value for v in range(20)) == 10
    assert pct == 50.0
