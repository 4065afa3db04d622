"""The registry queries that archive_query runs, and their oracle.

Four queries of the frozen bench.py leaf set, one for each registry layer
that no other workload and no serving request reaches. Each runs with
``.count()`` over the seeded stand-in tables of ``regdata.py``; its oracle
is the row count of the query's DuckDB SQL
(``oracle_sql()``/``pytest_only_oracles()``) over the same tables.
"""

from __future__ import annotations

import glob
import os
import time

from tmframe_spark import queries as Q

#: query -> the layer it exercises (span names). ops.asof, the fifth
#: registry layer, is reached through serve_asof.
QUERIES = {
    "hash_dedup": "ops.dedup",
    "merge_rank": "ops.merge",
    "simhash": "text",
    "ann_topk": "vec",
}


def run_queries(tr, spark, sf_dir: str) -> tuple[dict, dict]:
    """Run every query once; returns (latency_s, row count) by query."""
    reg = Q.queries()
    lat, counts = {}, {}
    for name, layer in QUERIES.items():
        t0 = time.perf_counter()
        with tr.span(f"registry.{layer}.{name}"):
            counts[name] = reg[name](spark, sf_dir).count()
        lat[name] = time.perf_counter() - t0
    return lat, counts


def oracle_counts(sf_dir: str) -> dict:
    """Row count of each query's DuckDB oracle over the tables in ``sf_dir``."""
    import duckdb

    sql = {**Q.oracle_sql(), **Q.pytest_only_oracles()}
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(p).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return {n: con.execute(f"SELECT count(*) FROM ({sql[n].strip().rstrip(';')})").fetchone()[0] for n in QUERIES}
    finally:
        con.close()
