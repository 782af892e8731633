#!/usr/bin/env python
"""DuckDB side of the scale bench: times each headline query's oracle SQL
(the exact text the correctness gate uses) on a given sf dir, warm,
min-of-N — the same methodology bench.py applies to the Spark side
(BASELINE.md). Handles both single-file tables and the multi-file
directory layout written by make_benchdata.py.

Usage: python scripts/bench_duckdb.py [sf_dir] [trials]
Prints one JSON line {"queries": {...}, "value": total, ...}.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import HEADLINE, duckdb_threads

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
TRIALS = int(sys.argv[2]) if len(sys.argv) > 2 else 3

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    import __spark_entry__ as e

    osql = e.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads={duckdb_threads()}")
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        sql = osql.get(name)
        if sql is None:
            continue
        con.execute(sql).fetchall()  # warm (page cache + any lazy init)
        best = float("inf")
        for _ in range(TRIALS):
            t0 = time.perf_counter()
            n = len(con.execute(sql).fetchall())
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        total += best
        print(f"# {name}: {best:.3f}s rows={n}", file=sys.stderr)
    print(json.dumps({"metric": "duckdb_total_wall_sec", "value": round(total, 4),
                      "unit": "sec", "queries": timings, "sf_dir": SF_DIR}))


if __name__ == "__main__":
    main()
