"""Every declared query with an oracle must value-match DuckDB at sf0.001;
oracle-less queries must at least run and return a stable schema."""

from __future__ import annotations

import pytest

from crypto_data_ingestion_script_spark.registry import load_all

from simlib import compare_frames, duck_connection

SPECS = load_all()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if not s.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(name, spark, sf_dir, duck):
    spec = SPECS[name]
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert compare_frames(got, want) == ("ok", None)


def test_every_query_has_an_oracle():
    """Contract invariant: the driver has NO rows-only fallback (every
    oracle-less query errs in its correctness pass), so the registry must
    never regrow one — approximate/engine-specific ops emit exact-twin
    values plus in-engine verdicts instead."""
    assert ROWS_ONLY == [], f"oracle-less queries registered: {ROWS_ONLY}"


# NOTE: test_oracle_match materializes via toPandas() —
# never a bare count(), which would let Catalyst prune computed columns and
# hide expressions that crash at materialization time (e.g. ANSI overflow).
