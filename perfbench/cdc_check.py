"""Final-state check for the replay workloads, computed by DuckDB.

The reference semantics are ``tests/oracle_cdc.oracle_replay``: drop
repeated ``(partition, offset)`` deliveries, ignore invalid events (an
insert or update with no in-vocabulary token), let the greatest
``(lsn, offset)`` event per ``doc_id`` win, drop keys whose winner is a
delete, and normalize the winner's tokens (keep in-vocabulary ids,
truncate to ``max_len``). DuckDB replays the stored binlog with that
rule, and the engine's table must match it row for row.
"""

from __future__ import annotations

from functools import reduce

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}/*.parquet'" for p in paths) + "]"


def oracle_sql(binlog_dirs: list[str], vocab: int, max_len: int) -> str:
    """The oracle final state ``(doc_id, tokens, n_tok, source)``."""
    clean = f"list_filter(tokens, t -> t >= 0 AND t < {vocab})"
    return f"""
        WITH delivered AS (
            SELECT * FROM read_parquet({_files(binlog_dirs)})
            QUALIFY row_number() OVER (
                PARTITION BY "partition", "offset" ORDER BY lsn) = 1
        ),
        valid AS (
            SELECT * FROM delivered
            WHERE op = 'delete' OR len({clean}) > 0
        ),
        winners AS (
            SELECT * FROM valid
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY lsn DESC, "offset" DESC) = 1
        )
        SELECT doc_id, {clean}[1:{max_len}] AS tokens,
               CAST(len({clean}[1:{max_len}]) AS INTEGER) AS n_tok, source
        FROM winners WHERE op <> 'delete'
    """


def oracle_state(binlog_dirs: list[str], vocab: int, max_len: int) -> dict[str, dict]:
    """Oracle final state as ``{doc_id: {tokens, n_tok, source}}``, in
    the shape ``tests/oracle_cdc.oracle_replay`` returns (tests pin the
    two against each other)."""
    rows = duckdb.sql(oracle_sql(binlog_dirs, vocab, max_len)).fetchall()
    return {
        d: {"tokens": tuple(t), "n_tok": n, "source": s} for d, t, n, s in rows
    }


def check_replay(
    cases: list[tuple], state_dir: str, vocab: int, max_len: int
) -> list[list[str]]:
    """For each ``(table, binlog_dirs)`` case, compare the table's full
    state, lineage and committed offsets with a DuckDB replay of its
    binlog. Returns the failure messages of each case."""
    states = [
        t.read().select("doc_id", "tokens", "n_tok", "source").withColumn("_table", F.lit(i))
        for i, (t, _) in enumerate(cases)
    ]
    reduce(DataFrame.unionByName, states).write.partitionBy("_table").mode(
        "overwrite"
    ).parquet(state_dir)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW engine AS SELECT * FROM read_parquet("
        f"'{state_dir}/*/*.parquet', hive_partitioning = true)"
    )
    oracles: dict[tuple[str, ...], tuple[str, int, list]] = {}
    out = []
    for i, (table, dirs) in enumerate(cases):
        key = tuple(dirs)
        if key not in oracles:
            name = f"oracle{len(oracles)}"
            con.sql(f"CREATE TABLE {name} AS {oracle_sql(dirs, vocab, max_len)}")
            (rows_in,) = con.sql(f"SELECT count(*) FROM read_parquet({_files(dirs)})").fetchone()
            heads = con.sql(
                f'SELECT "partition", max("offset") FROM read_parquet({_files(dirs)}) GROUP BY 1'
            ).fetchall()
            oracles[key] = (name, rows_in, heads)
        oracle, rows_in, heads = oracles[key]
        failures = []
        mine = f"(SELECT doc_id, tokens, n_tok, source FROM engine WHERE _table = {i})"
        (diff,) = con.sql(
            f"SELECT count(*) FROM (({mine} EXCEPT ALL SELECT * FROM {oracle})"
            f" UNION ALL (SELECT * FROM {oracle} EXCEPT ALL {mine}))"
        ).fetchone()
        if diff:
            failures.append(f"final state differs from the oracle in {diff} rows")
        man = table.manifest()
        if man["lineage"].get("rows_in") != rows_in:
            failures.append(f"lineage rows_in {man['lineage'].get('rows_in')} != binlog rows {rows_in}")
        lagging = [p for p, o in heads if int(man["offsets"].get(str(p), -1)) != o]
        if lagging:
            failures.append(f"partitions with nonzero lag: {sorted(lagging)}")
        out.append(failures)
    con.close()
    return out
