"""The operator query mix: ``__spark_entry__.queries()`` entries on
seeded corpora, each forced through the noop sink, checked against their
``oracle_sql()`` twins the way ``tools/check_oracle.py`` checks them.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

import duckdb

import __spark_entry__ as entry
from etl_rs_spark.session import force
from tools.check_oracle import canon

from corpus import write_corpus
from harness import Clock, Result, median
from spans import Tracer, stage_metrics

#: operator modules the CDC path never runs: text (q39, q40), packing
#: (q34), mixing (q42), dedup_scale (q18), on the main corpus
MIX = (
    "q39_repetition", "q40_redact_pii", "q34_pack_sequences",
    "q42_cap_per_group", "q18_minhash_signatures",
)
#: similarity (q33) and graph (q37) on a small corpus, in traced runs
#: only: their iterative plans cost ~4 s warm and ~9 s cold each even on
#: a few hundred rows, which every untraced run cannot afford
SMALL_MIX = ("q33_ivf_topk", "q37_dedup_components")
SMALL_DOCS = 300
#: the code still speeds up from pass to pass, so the median is taken
#: over at least this many, whatever the host's pace
MIN_PASSES = 3
#: the table each query reads, for the records-per-second figure
INPUT = {"q40_redact_pii": "customer", "q33_ivf_topk": "embeddings"}
TABLES = ("documents", "customer", "embeddings")


@dataclass(frozen=True)
class MixSize:
    n_docs: int = 2000
    n_customers: int = 5000


def _oracle_failures(name: str, sdf_columns: list[str], srows: list, con) -> list[str]:
    """``tools/check_oracle.py``'s comparison: schema, row count, and the
    order-insensitive multiset of canonical values."""
    o = con.sql(entry.oracle_sql()[name])
    scols, ocols = sorted(sdf_columns), sorted(o.columns)
    if scols != ocols:
        return [f"schema {scols} vs {ocols}"]
    orows = o.fetchall()
    if len(srows) != len(orows):
        return [f"rowcount {len(srows)} vs {len(orows)}"]
    si = [sdf_columns.index(c) for c in scols]
    oi = [o.columns.index(c) for c in ocols]
    if Counter(tuple(canon(r[i]) for i in si) for r in srows) != Counter(
        tuple(canon(r[i]) for i in oi) for r in orows
    ):
        return ["values differ"]
    return []


def query_mix(spark, tracer: Tracer, seed: int, seconds: float, work: str, res: Result,
              size: MixSize = MixSize()) -> float:
    """Untimed warm-up: a pass whose results are checked and a forced
    pass; then timed passes for ``seconds``, at least ``MIN_PASSES``. Returns the warm-up seconds
    (part of set-up). A traced run adds ``SMALL_MIX`` to every pass."""
    main, small = os.path.join(work, "corpus"), os.path.join(work, "small")
    with tracer.span("sources.gen", traced=False) as sp:
        write_corpus(main, seed, size.n_docs, size.n_customers)
        write_corpus(small, seed + 1, SMALL_DOCS, 1)
    res.layers["sources.gen_s"] = sp.wall_s
    queries = entry.queries()
    small_mix = SMALL_MIX if tracer.enabled else ()
    plan = [(q, main) for q in MIX] + [(q, small) for q in small_mix]

    warm_s = 0.0
    in_rows = 0
    for corpus, names in ((main, MIX), (small, small_mix)):
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        for q in names:
            t0 = time.perf_counter()
            sdf = queries[q](spark, corpus)
            rows = sdf.collect()
            warm_s += time.perf_counter() - t0
            res.check(q, _oracle_failures(q, sdf.columns, rows, con))
            in_rows += con.sql(f"SELECT count(*) FROM {INPUT.get(q, 'documents')}").fetchone()[0]
        con.close()
    # the pass after the cold one still runs measurably slower; timed
    # passes start once the code is warm, so their count cannot shift
    # their median
    t0 = time.perf_counter()
    for q, corpus in plan:
        force(queries[q](spark, corpus))
    warm_s += time.perf_counter() - t0

    per_query: dict[str, list[float]] = {q: [] for q, _ in plan}
    passes, passes_cpu, traced = [], [], []
    clock = Clock(seconds, res)
    while len(passes) < MIN_PASSES or not clock.expired():
        # a traced run alternates untraced and traced passes: their
        # medians give the tracing overhead
        on = tracer.enabled and len(passes) % 2 == 1
        t0, cpu = time.perf_counter(), 0.0
        for q, corpus in plan:
            with tracer.span(f"query.{q}", traced=on) as sp:
                force(queries[q](spark, corpus))
            res.check(q, [])
            per_query[q].append(sp.wall_s)
            cpu += sp.cpu_s
        passes.append(time.perf_counter() - t0)
        passes_cpu.append(cpu)
        traced.append(on)
    clock.finish()

    res.e2e["events_per_cpu_s"] = in_rows / median(passes_cpu)
    # the mix's call is one pass: the median over its heterogeneous
    # queries would flip between two queries' times
    res.e2e["call_cpu_s"] = median(passes_cpu)
    res.layers["query.pass_s"] = median(passes)
    res.notes.append(f"mix: {len(plan)} queries per pass; warm-up {warm_s:.1f}s; passes "
                     + " ".join(f"{p:.2f}s" for p in passes)
                     + "; cpu " + " ".join(f"{c:.2f}s" for c in passes_cpu))
    for q in per_query:
        res.layers[f"query.{q}_s"] = median(per_query[q])
    if tracer.enabled:
        on = [p for p, t in zip(passes, traced) if t]
        off = [p for p, t in zip(passes, traced) if not t]
        res.layers["trace.overhead_frac"] = median(on) / median(off) - 1.0
        spans = [sp for q in per_query for sp in tracer.named(f"query.{q}") if sp.stages]
        for q in per_query:
            qs = [sp for sp in spans if sp.name == f"query.{q}"]
            res.layers[f"query.{q}_shuffle_bytes"] = median(
                [sum(st.shuffle_write_bytes for st in sp.stages) for sp in qs]
            )
        res.layers.update(stage_metrics("span.query", spans))
        scans = []
        for t in TABLES:
            with tracer.span("sources.scan") as sp:
                force(spark.read.parquet(os.path.join(main, f"{t}.parquet")))
            scans.append(sp.wall_s)
        res.layers["sources.scan_s"] = sum(scans)
    return warm_s
