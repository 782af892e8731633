"""Z-order layout: measure the file-pruning win with parquet footer stats.

A layout op that doesn't change what a box predicate READS is dead code —
this test computes, for each output file, its (min, max) on both dimensions
straight from the parquet metadata, and counts how many files a predicate
would have to touch. Z-order must beat a single-dimension sort on the
dimension that sort neglects."""

from __future__ import annotations

import builtins
import glob
import os
import tempfile

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.operators.layout import zorder_write

N_FILES = 16


def _file_bounds(path: str, cols: tuple[str, str]):
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lo, hi = {}, {}
        for c in cols:
            stats = [
                md.row_group(g).column(idx[c]).statistics
                for g in range(md.num_row_groups)
            ]
            lo[c] = min(s.min for s in stats)
            hi[c] = max(s.max for s in stats)
        out.append((lo, hi))
    return out


def _touched(bounds, col: str, lo_v, hi_v) -> int:
    return sum(1 for lo, hi in bounds if not (hi[col] < lo_v or lo[col] > hi_v))


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    src = load(spark, sf_dir).events.select("event_id", "user_id", "value")
    zdir = tempfile.mkdtemp(prefix="z_") + "/z"
    ldir = tempfile.mkdtemp(prefix="l_") + "/linear"
    zorder_write(src, ("user_id", "value"), zdir, N_FILES)
    # Baseline: classic single-dimension clustering on user_id.
    (
        src.repartitionByRange(N_FILES, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    zb = _file_bounds(zdir, ("user_id", "value"))
    lb = _file_bounds(ldir, ("user_id", "value"))
    assert len(zb) > 4 and len(lb) > 4, "need a multi-file layout to measure"

    stats = src.agg(
        F.expr("percentile(value, 0.45)").alias("v_lo"),
        F.expr("percentile(value, 0.55)").alias("v_hi"),
        F.expr("percentile(user_id, 0.45)").alias("u_lo"),
        F.expr("percentile(user_id, 0.55)").alias("u_hi"),
    ).first()

    # The dimension the linear sort neglects: value-range predicates read
    # EVERY linear file; the z-curve must skip a real fraction of them.
    z_val = _touched(zb, "value", stats.v_lo, stats.v_hi)
    l_val = _touched(lb, "value", stats.v_lo, stats.v_hi)
    assert l_val == len(lb), "baseline unexpectedly clusters value"
    assert z_val < l_val, f"z-order pruned nothing on value: {z_val}/{len(zb)}"

    # The z-curve must still retain user_id locality (not read everything).
    z_usr = _touched(zb, "user_id", stats.u_lo, stats.u_hi)
    assert z_usr < len(zb), "z-order lost all user_id locality"


def test_zorder_key_is_expression_only(spark, sf_dir):
    """The z key must be pure column expressions (codegen), no Python UDF."""
    from crypto_data_ingestion_script_spark.operators.layout import (
        interleave_bits,
        quantize,
    )
    from crypto_data_ingestion_script_spark.plans.explain import formatted_plan

    src = load(spark, sf_dir).events.select("user_id", "value")
    df = src.select(
        interleave_bits(
            quantize(F.col("user_id"), F.lit(0.0), F.lit(1000.0)),
            quantize(F.col("value"), F.lit(0.0), F.lit(100.0)),
        )
    )
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_interleave_matches_reference_morton(spark):
    """The column-expression interleave must equal the arithmetic Morton
    code for a seeded sample of the full 16-bit × 16-bit domain (plus the
    corners) — and be injective over the sample."""
    import numpy as np

    from crypto_data_ingestion_script_spark.operators.layout import (
        BITS,
        interleave_bits,
    )

    rng = np.random.default_rng(42)
    n = 4096
    xs = rng.integers(0, 1 << BITS, n).tolist() + [0, 0, (1 << BITS) - 1]
    ys = rng.integers(0, 1 << BITS, n).tolist() + [0, (1 << BITS) - 1, (1 << BITS) - 1]

    def morton(x, y):
        z = 0
        for i in range(BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    expect = [morton(x, y) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "x int, y int"
    )
    got = [
        r["_z"]
        for r in df.select(
            interleave_bits(F.col("x"), F.col("y"))
        ).collect()
    ]
    assert got == expect
    assert len(set(zip(xs, ys))) == len(set(expect)), "interleave not injective"


def test_ensure_parallelism_guard(spark, monkeypatch):
    """The scan-parallelism guard repartitions an under-split input to
    the session's core count, and passes a well-split input through with
    an UNCHANGED plan (no added shuffle at scale). The core count is the
    one ``configure()`` and the stream driver use: ``$SPARK_GRAFT_CPUS``
    when set."""
    from crypto_data_ingestion_script_spark.partitioning import ensure_parallelism
    from crypto_data_ingestion_script_spark.session import session_cores

    target = session_cores(spark)
    narrow = spark.range(1000).coalesce(1)
    widened = ensure_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 1000

    wide = spark.range(1000).repartition(target)
    assert ensure_parallelism(wide) is wide

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(target + 1))
    assert ensure_parallelism(narrow).rdd.getNumPartitions() == target + 1


def test_ensure_parallelism_bytes_cap(spark, sf_dir, monkeypatch):
    """r13: ``bytes_per_task`` caps the widening at the planned input
    bytes — a sub-MB scan stays narrow (task dispatch would dominate a
    cheap per-row map stage), while a zero/None cap keeps the pure
    core-count widening, and the cap never widens BEYOND the session
    parallelism. Without py4j the probe falls back to the core-count
    target instead of raising."""
    from crypto_data_ingestion_script_spark.partitioning import ensure_parallelism
    from crypto_data_ingestion_script_spark.session import session_cores

    target = session_cores(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    capped = ensure_parallelism(emb, bytes_per_task=32 << 20)
    # testdata embeddings are well under 32 MB: no widening fires.
    assert capped.rdd.getNumPartitions() <= max(1, emb.rdd.getNumPartitions())
    assert capped.count() == emb.count()
    # a 1-byte cap degenerates to the core-count target (bounded above).
    wide = ensure_parallelism(emb, bytes_per_task=1)
    assert wide.rdd.getNumPartitions() == target
    # A client without py4j: the guard's own py4j import fails (pyspark's
    # imports, which this process needs, still resolve).
    real_import = builtins.__import__

    def no_py4j_here(name, globals=None, *args, **kwargs):
        if name.startswith("py4j") and (globals or {}).get("__name__", "").endswith(
            ".partitioning"
        ):
            raise ImportError(name)
        return real_import(name, globals, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", no_py4j_here)
    no_py4j = ensure_parallelism(emb, bytes_per_task=32 << 20)
    assert no_py4j.rdd.getNumPartitions() == max(target, emb.rdd.getNumPartitions())
