"""Hourly OHLC rollup — the reference's core computation, Spark-first.

Reference semantics (cited for parity, NOT ported):
- ``update_running_metrics`` (/root/reference/dataCollector.py:80-94) is a
  hand-rolled per-symbol partial aggregation: open (first price, :83-84),
  close (last price, :86), high (:87), low (:88), incremental mean + count
  (:91-94).
- ``run()``'s hour-boundary flush (/root/reference/dataCollector.py:186-191)
  makes it a 1-hour tumbling window; the emitted row is
  (date, hour, symbol, O, H, L, C, avg, n) (:146-161).

Spark expression: one declarative ``groupBy(date_trunc('hour', ts), key)``
with ``min_by``/``max_by``/``max``/``min``/``avg``/``count`` — Catalyst plans
partial/final HashAggregate with map-side combine automatically, so the
incremental-update behavior the reference hand-codes is the *physical* plan
Spark picks, at any scale. No UDFs, no state handling, whole-stage codegen
end to end.

Deviation (SURVEY.md §7.4.1): reference ``open`` is the first *non-zero*
price (falsy test, dataCollector.py:83); we implement clean first-by-time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import davg
from ..registry import query


#: Bar value columns, in output order, after the (hour, key) grouping.
BAR_COLS = (
    "open_price",
    "high_price",
    "low_price",
    "close_price",
    "avg_price",
    "sample_count",
)

#: DuckDB oracle shared by every per-(hour, event_type) bar query — batch
#: (q_ohlc_hourly), streaming (q_stream_tumbling) and RocksDB-state
#: (q_stream_rocksdb): the engine that computes the bar must not change it.
HOURLY_BARS_ORACLE = """
    SELECT date_trunc('hour', ts)   AS hour_ts,
           event_type,
           arg_min(value, ts)       AS open_price,
           max(value)               AS high_price,
           min(value)               AS low_price,
           arg_max(value, ts)       AS close_price,
           (CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) AS avg_price,
           count(*)                 AS sample_count
    FROM events
    GROUP BY 1, 2
    """


def bar_aggs(ts_col: str, value_col: str) -> list[Column]:
    """The six bar aggregates, named ``BAR_COLS``: open/close are the
    value at the first/last ``ts``, avg accumulates in fixed point."""
    return [
        F.min_by(F.col(value_col), F.col(ts_col)).alias("open_price"),
        F.max(value_col).alias("high_price"),
        F.min(value_col).alias("low_price"),
        F.max_by(F.col(value_col), F.col(ts_col)).alias("close_price"),
        davg(value_col).alias("avg_price"),
        F.count(F.lit(1)).alias("sample_count"),
    ]


def ohlc_bars(
    ticks: DataFrame,
    ts_col: str = "ts",
    key_col: str = "symbol",
    value_col: str = "price",
) -> DataFrame:
    """Tumbling 1-hour OHLC bars from a tick-shaped DataFrame.

    Scale: single shuffle on (hour, key); partial aggregation halves it
    map-side. At 100 TB this is the textbook plan — no collect, no state.
    """
    hour_ts = F.date_trunc("hour", F.col(ts_col)).alias("hour_ts")
    return ticks.groupBy(hour_ts, F.col(key_col)).agg(
        *bar_aggs(ts_col, value_col)
    )


@query(
    "q_ohlc_hourly",
    oracle=HOURLY_BARS_ORACLE,
    tags=("agg", "flagship"),
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-(hour, event_type) OHLC bars over the events stream —
    the reference's entire computation as one declarative aggregation."""
    t = load(spark, sf_dir)
    return ohlc_bars(t.events, ts_col="ts", key_col="event_type", value_col="value")


@query(
    "q_ohlc_reference_parity",
    oracle="""
    SELECT date_trunc('hour', ts)   AS hour_ts,
           event_type,
           arg_min(value, ts)       AS open_price,
           arg_min(value, ts) FILTER (WHERE value <> 0) AS open_price_ref,
           max(value)               AS high_price,
           min(value)               AS low_price,
           arg_max(value, ts)       AS close_price,
           (CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) AS avg_price,
           count(*)                 AS sample_count
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "parity"),
)
def q_ohlc_reference_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship OHLC bars WITH the reference's falsy-open quirk as a
    first-class column: ``open_price_ref`` is the first *non-zero* value
    by event time (the reference tests ``if not open_`` before adopting a
    price — /root/reference/dataCollector.py:83 — so a 0.0 tick never
    opens a bar), NULL when the whole bar is zeros, alongside the clean
    first-by-time ``open_price``. This makes the one documented semantic
    deviation from the reference (SURVEY §7.4.1) itself driver-checkable
    instead of living only in streaming/stateful.py's parity mode.

    Expression: min over a CASE-gated (ts, value) struct — comparison is
    lexicographic so the struct-min IS first-by-time among non-zero rows,
    and F.min skips the NULL the CASE leaves on zero rows. Same single
    shuffle + partial/final HashAggregate as the flagship; the quirk
    costs one extra column in the map-side state."""
    t = load(spark, sf_dir)
    nz = F.when(
        F.col("value") != 0, F.struct(F.col("ts"), F.col("value"))
    )
    open_price, *rest = bar_aggs("ts", "value")
    return t.events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.col("event_type"),
    ).agg(open_price, F.min(nz).getField("value").alias("open_price_ref"), *rest)
