"""`scripts/simlib.compare_frames` is the one definition of "a query
matches its oracle" for Tier-1, the driver sweeps and perfbench's
`ok_frac`, so its rules are pinned here: what it must flag (column drift,
row drift, int-vs-float dtype drift, value drift, a float gap above 1e-9
relative) and what it must NOT flag (row order, float noise below
tolerance, float-tied rows whose order differs between engines — the
q_entropy sf0.001 incident — and equal timestamps of which one side
carries a time zone)."""

import os
import shutil

import numpy as np
import pandas as pd

from simlib import compare_frames, duck_connection


def test_equal_frames_any_order_pass():
    s = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    o = pd.DataFrame({"v": [3.0, 1.0, 2.0], "k": [3, 1, 2]})
    assert compare_frames(s, o) == ("ok", None)


def test_column_row_and_value_drift_flagged():
    s = pd.DataFrame({"k": [1], "v": [1.0]})
    assert compare_frames(s, pd.DataFrame({"k": [1], "w": [1.0]}))[0] == "cols"
    assert (
        compare_frames(s, pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}))[0]
        == "rows"
    )
    status, err = compare_frames(s, pd.DataFrame({"k": [1], "v": [1.5]}))
    assert (status, err) == ("values", "v at rows [0]: [1.0] vs [1.5]")


def test_int_vs_float_dtype_drift_flagged():
    s = pd.DataFrame({"k": [1], "v": np.array([1], dtype="int64")})
    o = pd.DataFrame({"k": [1], "v": np.array([1.0], dtype="float64")})
    assert compare_frames(s, o)[0] == "dtype"


def test_sub_tolerance_float_noise_passes():
    s = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    o = pd.DataFrame({"k": [1, 2], "v": [1.0 + 1e-12, 2.0 - 1e-12]})
    assert compare_frames(s, o) == ("ok", None)


def test_float_tied_rows_do_not_misalign():
    """Two rows with EQUAL float values but distinct labels: a float
    primary sort key lets 1e-16 engine noise flip their order and
    misalign the label column (observed: q_entropy at sf0.001). The
    comparator must sort by the non-float column first."""
    s = pd.DataFrame({"label": ["a", "b"], "v": [0.5, 0.5]})
    o = pd.DataFrame({"label": ["b", "a"], "v": [0.5 + 1e-16, 0.5]})
    assert compare_frames(s, o) == ("ok", None)


def test_array_valued_object_columns_compare():
    s = pd.DataFrame({"k": [1], "arr": [np.array([1, 2])]})
    o = pd.DataFrame({"k": [1], "arr": [[1, 2]]})
    assert compare_frames(s, o) == ("ok", None)
    o2 = pd.DataFrame({"k": [1], "arr": [[1, 3]]})
    assert compare_frames(s, o2) == (
        "values", "arr at rows [0]: [(1, 2)] vs [(1, 3)]"
    )


def test_relative_float_gap_above_tolerance_flagged():
    """Floats match within 1e-9 relative, not 1e-7: a 3e-8 gap fails."""
    s = pd.DataFrame({"v": [0.18616597]})
    o = pd.DataFrame({"v": [0.18616597 * (1 + 3e-8)]})
    assert compare_frames(s, o)[0] == "values"


def test_tz_aware_and_naive_timestamps_compare():
    """A tz-aware column compares with its naive twin by wall time."""
    ts = pd.to_datetime(["2026-01-01 05:00:00", "2026-01-02 06:30:00"])
    s = pd.DataFrame({"ts": ts})
    o = pd.DataFrame({"ts": ts.tz_localize("UTC")})
    assert compare_frames(s, o) == ("ok", None)
    o2 = pd.DataFrame({"ts": ts.tz_localize("UTC") + pd.Timedelta(seconds=1)})
    assert compare_frames(s, o2)[0] == "values"


def test_duck_connection_reads_both_layouts(sf_dir, tmp_path):
    """Each table is a view whether `<t>.parquet` is one file (testdata)
    or a directory of part files (benchdata)."""
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, name), tmp_path / name)
    (tmp_path / "orders.parquet").unlink()
    (tmp_path / "orders.parquet").mkdir()
    for part in ("part-0.parquet", "part-1.parquet"):
        shutil.copy(
            os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet" / part
        )
    count = "SELECT count(*) FROM orders"
    with duck_connection(sf_dir) as single, duck_connection(str(tmp_path)) as parts:
        one = single.execute(count).fetchone()[0]
        assert parts.execute(count).fetchone()[0] == 2 * one > 0
