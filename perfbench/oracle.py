#!/usr/bin/env python3
"""Derive the query mix's expected results from the DuckDB oracle SQL.

    python3 perfbench/oracle.py

Runs each query's ``oracle_sql()`` on DuckDB over the corpus in
``perfbench/data/sf0.01`` and writes its row count and value hash to
``perfbench/expected_sf0.01.json``. The engine is never consulted, so the
benchmark's per-run check compares the engine against an independent
answer. Re-run only when the corpus or a query's oracle SQL changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

from verify import value_hash  # noqa: E402
from workloads import CORPUS, EXPECTED, QUERY_MIX  # noqa: E402


def main() -> int:
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(CORPUS)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{CORPUS}/{f}')")
    expected = {}
    for name in QUERY_MIX:
        rel = con.sql(oracles[name])
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        expected[name] = {"rows": len(rows), "hash": value_hash(rows, cols)}
        print(f"{name}: {expected[name]}")
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
