from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# scripts/simlib.py is the differential harness the tests share.
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from crypto_data_ingestion_script_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session("crypto-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def zero_row_sf_dir(sf_dir, tmp_path_factory):
    """Zero-row copies of every table in ``sf_dir`` (pyarrow ``slice(0, 0)``,
    schemas kept): the empty day a scheduled job must survive."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_zero_rows")
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            table = pq.read_table(os.path.join(sf_dir, name))
            pq.write_table(table.slice(0, 0), out / name)
    return str(out)
