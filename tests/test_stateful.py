"""Custom stateful streaming operator (applyInPandasWithState) tests."""

from __future__ import annotations

import datetime as dt
import json
import math

import pandas as pd
import pytest

from crypto_data_ingestion_script_spark.registry import load_all
from crypto_data_ingestion_script_spark.streaming.stateful import _update_ohlc_state

SPECS = load_all()


class _StubState:
    """Minimal GroupState stand-in for unit-testing the fold function."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _batch(rows):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([dt.datetime(2024, 1, 1, 0, 0, s) for s, _ in rows]),
            "value": [v for _, v in rows],
        }
    )


def test_stream_stateful_equals_batch_flagship(spark, sf_dir):
    got = {
        (r["hour_ts"], r["event_type"]): r
        for r in SPECS["q_stream_stateful"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["hour_ts"], r["event_type"]): r
        for r in SPECS["q_ohlc_hourly"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (
            g["open_price"],
            g["high_price"],
            g["low_price"],
            g["close_price"],
            g["sample_count"],
        ) == (
            w["open_price"],
            w["high_price"],
            w["low_price"],
            w["close_price"],
            w["sample_count"],
        ), k
        assert math.isclose(g["avg_price"], w["avg_price"], rel_tol=1e-9)


def test_fold_incremental_across_batches():
    """Folding two micro-batches through the state equals one pass."""
    state = _StubState()
    list(
        _update_ohlc_state(
            (dt.datetime(2024, 1, 1), "X"), iter([_batch([(1, 5.0), (2, 9.0)])]), state
        )
    )
    out = list(
        _update_ohlc_state(
            (dt.datetime(2024, 1, 1), "X"), iter([_batch([(0, 7.0), (3, 2.0)])]), state
        )
    )[0]
    assert out["open_price"][0] == 7.0  # earliest ts wins across batches
    assert out["close_price"][0] == 2.0
    assert out["high_price"][0] == 9.0
    assert out["low_price"][0] == 2.0
    assert out["sample_count"][0] == 4
    assert math.isclose(out["avg_price"][0], (5 + 9 + 7 + 2) / 4)


def test_nonzero_open_parity_mode():
    """Reference falsy-open quirk (dataCollector.py:83): a 0.0 price can
    never become the open; the first non-zero price does."""
    state = _StubState()
    out = list(
        _update_ohlc_state(
            (dt.datetime(2024, 1, 1), "X"),
            iter([_batch([(0, 0.0), (1, 4.0), (2, 3.0)])]),
            state,
            nonzero_open=True,
        )
    )[0]
    assert out["open_price"][0] == 4.0  # 0.0 skipped, first non-zero wins
    assert out["low_price"][0] == 0.0  # but min/max still see the 0.0 tick
    assert out["sample_count"][0] == 3


def test_ohlc_reference_parity_query_planted_zeros(spark, tmp_path):
    """q_ohlc_reference_parity's batch expression (struct-min over
    CASE-gated (ts, value)) must agree with the stateful fold's
    nonzero_open mode on planted zeros: a leading 0.0 tick never opens a
    bar, an all-zero bar has NULL ref-open, and the clean open still
    sees the zero."""
    import datetime as dt

    rows = [
        # bar A: leading zero, then non-zeros
        (dt.datetime(2024, 1, 1, 10, 0, 0), "A", 0.0),
        (dt.datetime(2024, 1, 1, 10, 0, 5), "A", 4.0),
        (dt.datetime(2024, 1, 1, 10, 0, 9), "A", 3.0),
        # bar B: all zeros
        (dt.datetime(2024, 1, 1, 11, 0, 1), "B", 0.0),
        (dt.datetime(2024, 1, 1, 11, 0, 2), "B", 0.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    d = str(tmp_path / "events.parquet")
    df.write.parquet(d)
    # mirror the sf-dir layout the query loads (other tables unused)
    out = {
        (r["hour_ts"].hour, r["event_type"]): r
        for r in SPECS["q_ohlc_reference_parity"]
        .fn.__wrapped__(spark, str(tmp_path))
        .collect()
    } if hasattr(SPECS["q_ohlc_reference_parity"].fn, "__wrapped__") else {
        (r["hour_ts"].hour, r["event_type"]): r
        for r in SPECS["q_ohlc_reference_parity"].fn(spark, str(tmp_path)).collect()
    }
    a = out[(10, "A")]
    assert a["open_price"] == 0.0  # clean first-by-time
    assert a["open_price_ref"] == 4.0  # reference falsy-open quirk
    assert a["low_price"] == 0.0 and a["sample_count"] == 3
    b = out[(11, "B")]
    assert b["open_price"] == 0.0
    assert b["open_price_ref"] is None  # no non-zero tick ever opened it


def test_session_timeout_toy_islands(spark, tmp_path):
    """q_stream_session_timeout on a planted corpus: gap-split sessions
    emit 'gap', each user's final session emits 'timeout' (fired by the
    engine's EventTimeTimeout, not by a data row), and the state store
    ends bounded by ACTIVE keys (only the watermark-advancing sentinel
    remains resident)."""
    import datetime as dt
    import json

    from crypto_data_ingestion_script_spark.streaming import jobs

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    mins = lambda m: base + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        # user 1: two sessions (40-min idle gap > 30-min horizon)
        (1, mins(0), 1, "click", 1.0, "{}"),
        (2, mins(10), 1, "click", 1.0, "{}"),
        (3, mins(50), 1, "click", 1.0, "{}"),
        # user 2: one session, exactly-at-gap successor stays inside
        (4, mins(0), 2, "click", 1.0, "{}"),
        (5, mins(30), 2, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        (r["user_id"], r["session_start"]): r
        for r in SPECS["q_stream_session_timeout"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == 3
    s1a = out[(1, mins(0))]
    assert (s1a["session_end"], s1a["n_events"], s1a["emitted_by"]) == (
        mins(10), 2, "gap",
    )
    s1b = out[(1, mins(50))]
    assert (s1b["n_events"], s1b["emitted_by"]) == (1, "timeout")
    s2 = out[(2, mins(0))]
    assert (s2["session_end"], s2["n_events"], s2["emitted_by"]) == (
        mins(30), 2, "timeout",
    )
    # State boundedness: timed-out users are REMOVED; only the sentinel
    # key (whose own timeout the watermark never passes) stays resident.
    progress = [json.loads(p) for p in jobs.LAST_QUERY_PROGRESS]
    finals = [
        op["numRowsTotal"]
        for p in progress[-1:]
        for op in p.get("stateOperators", [])
    ]
    assert finals and finals[0] <= 1, finals


@pytest.mark.parametrize("name", ["q_stream_tumbling", "q_stream_rocksdb"])
def test_stream_keeps_one_state_store_per_core(spark, sf_dir, name):
    """A stream runs with AQE off, so nothing coalesces its state stores:
    every stateful operator gets one per core, not the batch floor of 8,
    and the caller's shuffle-partition conf reads the same afterwards."""
    from crypto_data_ingestion_script_spark.session import session_cores
    from crypto_data_ingestion_script_spark.streaming import jobs

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert SPECS[name].fn(spark, sf_dir).count() > 0
    assert spark.conf.get(key) == before
    parts = [
        op["numShufflePartitions"]
        for p in map(json.loads, jobs.LAST_QUERY_PROGRESS)
        for op in p.get("stateOperators", [])
    ]
    assert parts and set(parts) == {session_cores(spark)}, parts
