"""Known-answer tests for the OHLC rollup — mirrors the reference's own
fixture style (/root/reference/tests.py:85-117: N ticks → assert OHLC/avg)
as Spark DataFrame tests, plus the empty-group and multi-hour behaviors."""

from __future__ import annotations

import datetime as dt

import pytest

from crypto_data_ingestion_script_spark.ingest import hourly_bars_table
from crypto_data_ingestion_script_spark.operators.rollup import ohlc_bars
from crypto_data_ingestion_script_spark.schemas import TICKS


def _ticks(spark, rows):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 10, 0, s), sym, p) for s, sym, p in rows],
        schema=TICKS,
    )


def test_three_tick_fixture(spark):
    # Reference fixture tests.py:103-117: prices [50000, 51000, 49000].
    df = _ticks(
        spark,
        [(0, "BTCUSDT", 50000.0), (5, "BTCUSDT", 51000.0), (10, "BTCUSDT", 49000.0)],
    )
    [row] = ohlc_bars(df).collect()
    assert row.open_price == 50000.0
    assert row.close_price == 49000.0
    assert row.high_price == 51000.0
    assert row.low_price == 49000.0
    assert row.avg_price == pytest.approx(50000.0)
    assert row.sample_count == 3


def test_single_tick(spark):
    # tests.py:85-100: one sample → open=high=low=close=avg, n=1.
    df = _ticks(spark, [(0, "ETHUSDT", 3000.0)])
    [row] = ohlc_bars(df).collect()
    assert (
        row.open_price
        == row.high_price
        == row.low_price
        == row.close_price
        == row.avg_price
        == 3000.0
    )
    assert row.sample_count == 1


def test_groups_and_empty_symbol_skipped(spark):
    # Empty groups never materialize (reference skips sample_count==0,
    # dataCollector.py:144) — groupBy gives that for free.
    df = _ticks(spark, [(0, "BTCUSDT", 1.0), (1, "ETHUSDT", 2.0)])
    out = {r.symbol: r for r in ohlc_bars(df).collect()}
    assert set(out) == {"BTCUSDT", "ETHUSDT"}


def test_hourly_bars_table_shape(spark):
    rows = [
        (dt.datetime(2024, 1, 1, 10, 59, 59), "BTCUSDT", 10.0),
        (dt.datetime(2024, 1, 1, 11, 0, 0), "BTCUSDT", 20.0),
    ]
    df = spark.createDataFrame(rows, schema=TICKS)
    out = hourly_bars_table(df).orderBy("hour").collect()
    assert [r.hour for r in out] == [10, 11]
    assert out[0].date == dt.date(2024, 1, 1)
    assert [f for f in hourly_bars_table(df).columns] == [
        "date",
        "hour",
        "symbol",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "avg_price",
        "sample_count",
    ]
