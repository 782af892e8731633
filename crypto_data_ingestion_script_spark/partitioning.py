"""Scan-parallelism guard for compute-heavy map stages.

A projection whose per-row cost dominates (MinHash signatures, hyperplane
folds, per-pair levenshtein riding a join) executes with its INPUT's
parallelism. On production data that is the scan's split count — hundreds
of tasks per 100 GB — and repartitioning first would add a pointless
full-input shuffle. On a small single-row-group file (this repo's
testdata: every table is ONE row group, so every scan is ONE task) the
same plan serializes entirely.

``ensure_parallelism`` resolves the tension adaptively instead of picking
one scale's answer: repartition round-robin ONLY when the input's planned
partition count is below the session's parallelism. The check is
plan-time (no job runs); when the input is already well-split — the
100 TB case — the DataFrame passes through untouched, so the shuffle
exists precisely when it is cheap (input small enough to plan as few
tasks) and needed (cores would otherwise idle).

Round-robin rather than key-based: the goal is balanced COMPUTE, and the
downstream op (broadcast join probe, map-side signature) does not require
any co-location.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)


def ensure_parallelism(
    df: DataFrame, min_factor: float = 1.0, bytes_per_task: int | None = None
) -> DataFrame:
    """Round-robin repartition ``df`` to the session default parallelism
    iff its planned partition count is below ``min_factor`` times that
    parallelism; otherwise return ``df`` unchanged.

    ``bytes_per_task`` (r13 optimization round) caps the widening at
    ``ceil(planned input bytes / bytes_per_task)`` partitions. Use it for
    map stages whose per-row cost is CHEAP (one small matmul per batch —
    the ANN scans) where task dispatch, not compute, dominates below a few
    MB per task: widening a 0.8 MB scan to 32 python-worker tasks measured
    ~2.4x SLOWER than leaving it narrow (q_ann_lsh, sf0.1, local[32]),
    while compute-dense stages (MinHash folds over shingle arrays) still
    want every core regardless of input bytes and keep the pure
    core-count form. At production scale the planned byte size exceeds
    the cap for any real corpus, so the target degenerates to the session
    parallelism and behavior is unchanged."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task:
        # Plan-stat probe via private py4j internals (no public size-estimate
        # API exists). Scoped to the py4j/attribute error classes an API
        # drift would raise, and logged, so a Spark upgrade that moves the
        # accessor can't silently disable the cap (ADVICE r13). A client
        # without py4j falls back to the core-count target as well.
        probe_errors: tuple = (AttributeError, ValueError, TypeError)
        try:
            import py4j.protocol

            probe_errors += (py4j.protocol.Py4JError,)
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = max(1, min(target, -(-est // bytes_per_task)))
        except (ImportError, *probe_errors) as ex:
            logger.debug(
                "ensure_parallelism: plan-size probe failed (%s); "
                "falling back to core-count target %d", ex, target
            )
    if df.rdd.getNumPartitions() < target * min_factor:
        return df.repartition(target) if target > 1 else df
    return df
