"""The one differential harness: what "a query matches its DuckDB oracle"
means, for Tier-1 (`tests/`), the sweeps (`driver_sim.py` at any sf dir,
`sim_sf1.py` at benchdata/sf1) and perfbench's verify step.

- `compare_frames(s, o)`: the strict column/row/dtype/value check.
- `duck_connection(sf_dir)`: a DuckDB connection with every table
  registered as a view, for both on-disk layouts.
- `warm_session(spark, sf_dir)`: one-time class loading for a sweep, so
  the first query timed is not billed for it.
- `canonical_hash(df)`: the driver-style value hash (`--strict-driver`).
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pandas.api.types as pt

#: Float tolerance, as `math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL)`.
REL_TOL = 1e-9
ABS_TOL = 1e-9
_NULL = "\0N"


def duckdb_threads() -> int:
    """DuckDB gets the cores Spark gets: ``$SPARK_GRAFT_CPUS``, else the
    host's core count."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else os.cpu_count() or 1


def duck_connection(sf_dir: str):
    """A DuckDB connection on `duckdb_threads()` threads with a view per
    catalog table over `sf_dir`: a single `<t>.parquet` file (testdata) or
    a `<t>.parquet/` directory of part files (benchdata)."""
    import duckdb

    from crypto_data_ingestion_script_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET threads={duckdb_threads()}")
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def warm_session(spark, sf_dir: str) -> None:
    """Load, once, the classes a sweep's first query of each kind would
    otherwise be billed for (2-4.5 s each): the JVM and the Python worker
    pool, the parquet reader and writer, a streaming aggregation, a
    stream-stream join, and the Python DataSource runner. Everything runs
    on the 5-row region table and leaves no view or directory behind."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from crypto_data_ingestion_script_spark.sources.custom import register

    spark.range(1_000_000).selectExpr("sum(id) s").collect()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id bigint"
    ).count()
    rpath = os.path.join(sf_dir, "region.parquet")
    region = spark.read.parquet(rpath)
    region.count()
    reader = spark.readStream.schema(region.schema)
    if os.path.isdir(rpath):
        src = reader.parquet(rpath)
    else:
        src = reader.option("pathGlobFilter", "region.parquet").parquet(sf_dir)
    a = src.select("r_regionkey", F.current_timestamp().alias("ts_a"))
    b = src.select(
        F.col("r_regionkey").alias("rk_b"), F.current_timestamp().alias("ts_b")
    )
    a, b = a.withWatermark("ts_a", "1 minute"), b.withWatermark("ts_b", "1 minute")
    joined = a.join(
        b,
        (a.r_regionkey == b.rk_b)
        & (a.ts_a >= b.ts_b - F.expr("INTERVAL 1 MINUTE"))
        & (a.ts_a <= b.ts_b),
    )
    register(spark)
    spark.read.format("sim_ticks").option("n_ticks", "1").load().count()
    ticks = spark.readStream.format("sim_ticks").option("max_ticks", "1").load()
    with tempfile.TemporaryDirectory(prefix="warm_") as tmp:
        region.write.parquet(os.path.join(tmp, "region"))
        for i, (stream, mode) in enumerate((
            (src.groupBy("r_regionkey").count(), "complete"),
            (joined, "append"),
            (ticks, "append"),
        )):
            name = "warm_" + uuid.uuid4().hex[:6]
            (
                stream.writeStream.outputMode(mode).format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(tmp, f"ckpt{i}"))
                .trigger(availableNow=True).start()
            ).awaitTermination()
            spark.catalog.dropTempView(name)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name; datetimes tz-stripped, then cast to
    microseconds (Spark's `toPandas` gives ns, DuckDB us); array cells as
    tuples, so they compare and sort."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pt.is_datetime64_any_dtype(df[c]):
            col = df[c]
            if isinstance(col.dtype, pd.DatetimeTZDtype):
                col = col.dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v,
                na_action="ignore",
            )
    return df


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    """Rows in a canonical order. Non-float columns lead the sort key and
    floats join it only rounded to 6dp, as a tiebreak: a float primary key
    lets sub-tolerance engine noise flip two rows whose floats tie, which
    misaligns every other column (observed on q_entropy at sf0.001)."""
    cols = list(df.columns)
    tmp = df.copy()
    key = [c for c in cols if not pt.is_float_dtype(df[c])]
    for c in cols:
        if pt.is_float_dtype(df[c]):
            tmp["__r_" + c] = df[c].round(6)
            key.append("__r_" + c)
    try:
        out = tmp.sort_values(by=key, kind="mergesort")
    except Exception:
        exact = [c for c in key if not c.startswith("__r_")]
        out = tmp.sort_values(by=exact, kind="mergesort") if exact else tmp
    return out[cols].reset_index(drop=True)


def _floats_match(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Element-wise `math.isclose(rel_tol=REL_TOL, abs_tol=ABS_TOL)`, with
    NULL/NaN matching only NULL/NaN."""
    with np.errstate(invalid="ignore"):
        close = np.abs(a - b) <= np.maximum(
            REL_TOL * np.maximum(np.abs(a), np.abs(b)), ABS_TOL
        )
    close &= np.isfinite(a) & np.isfinite(b)
    return (a == b) | close | (np.isnan(a) & np.isnan(b))


def compare_frames(s: pd.DataFrame, o: pd.DataFrame):
    """Compare a Spark result `s` against an oracle result `o`.

    Returns (status, err): status is "ok" or one of "cols" / "rows" /
    "dtype" / "values"; err names what differs. Columns are matched by
    name, rows in any order. An integer column never matches a float one
    (the driver hashes raw values, so that drift fails there even when
    every value agrees). Floats match by `_floats_match`; every other
    value must be equal both as a value and as a string. Works on copies.
    """
    s, o = _normalize(s), _normalize(o)
    if list(s.columns) != list(o.columns):
        return "cols", f"{list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return "rows", f"{len(s)} vs {len(o)}"
    for c in s.columns:
        si, oi = pt.is_integer_dtype(s[c]), pt.is_integer_dtype(o[c])
        sf_, of = pt.is_float_dtype(s[c]), pt.is_float_dtype(o[c])
        if (si and of) or (sf_ and oi):
            return "dtype", f"{c}: {s[c].dtype} vs {o[c].dtype}"
    s, o = _sorted(s), _sorted(o)
    for c in s.columns:
        a, b = s[c], o[c]
        if pt.is_float_dtype(a) or pt.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce").astype(float)
            b = pd.to_numeric(b, errors="coerce").astype(float)
            ok = _floats_match(a.to_numpy(), b.to_numpy())
        else:
            a, b = a.fillna(_NULL), b.fillna(_NULL)
            ok = ((a == b) & (a.astype(str) == b.astype(str))).to_numpy()
        if not ok.all():
            bad = np.flatnonzero(~ok)[:3].tolist()
            return "values", (
                f"{c} at rows {bad}: {a.iloc[bad].tolist()} "
                f"vs {b.iloc[bad].tolist()}"
            )
    return "ok", None


def canonical_hash(df: pd.DataFrame) -> str:
    """Canonical value hash reproducing the grading driver's comparison
    posture (CORRECTNESS_r{N}.json `hash_match`): columns sorted by name,
    rows sorted by every column, then sha256 over a deterministic per-cell
    serialization — ints canonicalized through int(), floats through
    repr(round(x, 6)), NULLs as a sentinel, arrays as tuples. The driver's
    exact serialization is not public; this form is validated by running
    it next to compare_frames over the full registry (`--strict-driver`)
    and recording any query where the two verdicts DIVERGE — a divergence
    means column-order/dtype assumptions differ, not necessarily a wrong
    result, and is the thing the artifact exists to surface."""
    import datetime as _dt
    import hashlib

    df = _normalize(df)

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return _NULL
        if isinstance(v, (bool, np.bool_)):
            return str(bool(v))
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, (float, np.floating)):
            return repr(round(float(v), 6))
        # Dates and timestamps canonicalize to one ISO form: Spark's
        # DateType arrives as datetime.date objects while DuckDB's DATE
        # cast arrives as midnight datetime64 — str() of those differ
        # ('2026-01-01' vs '2026-01-01 00:00:00') even though the values
        # are equal (found by --strict-driver on q_retention/q_sink_bronze).
        if isinstance(v, (_dt.date, _dt.datetime, pd.Timestamp)):
            return pd.Timestamp(v).isoformat()
        return str(v)

    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256()
    h.update(("|".join(df.columns) + "\n").encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()
