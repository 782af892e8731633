"""EXPLAIN-only oracle-syntax gate (round-6, VERDICT r5 task 6).

Every registered oracle SQL string must at least PLAN in DuckDB — parse,
bind against the real table schemas, and optimize — without being
executed. A broken oracle (typo, renamed column, DuckDB-dialect slip)
otherwise surfaces only when the grading driver happens to sample that
query; this test fails the suite instead, in seconds, because EXPLAIN
skips the execution cost that makes the full sf0.001 oracle run
(test_queries_vs_oracle.py) minutes long.
"""

from __future__ import annotations

import pytest
from simlib import duck_connection

from crypto_data_ingestion_script_spark.registry import load_all


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def test_every_oracle_plans_in_duckdb(con):
    specs = load_all()
    with_oracle = {n: s.oracle for n, s in specs.items() if s.oracle}
    assert len(with_oracle) >= 240  # the registry-wide contract
    failures = []
    for name, sql in sorted(with_oracle.items()):
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, "\n".join(failures)
