"""SparkSession construction and runtime configuration.

The driver harness owns its own SparkSession, so every conf we rely on for
correctness or performance must be a *runtime-settable* SQL conf applied via
``configure(spark)`` — called at the top of every query entry point.

Scale posture (100 TB design point, SURVEY.md §7.4.6):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting mean one
  static ``spark.sql.shuffle.partitions`` value survives a 1000× scale-up.
- Arrow on: any pandas-UDF path moves columnar batches, not pickled rows.
- Session TZ pinned to UTC: parquet timestamps compare bit-identically with
  the UTC-naive DuckDB oracle and partition pruning on date derivations stays
  deterministic across clusters.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session handed to us.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's 10 MB auto-broadcast default is tuned for small executors;
    # at the 128 GiB-executor design point a filtered dim side of tens of
    # MB is still far cheaper to ship once than to shuffle the fact table
    # against (q_tpch_q3's orders⋈customer crosses 10 MB at sf1 and
    # silently degraded the lineitem join to a shuffle). 64 MB keeps the
    # decision size-aware — both the static planner and AQE's runtime
    # re-check fall back to shuffle joins past it.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Eliminate correctness drift between engines: ANSI interval/date ops.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark has no native type for — read as long, catalog converts to
    # microsecond timestamp_ntz (truncation, matching DuckDB's ns→us read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def session_cores(spark: SparkSession) -> int:
    """The session's core count: ``$SPARK_GRAFT_CPUS`` when set, else the
    context's ``defaultParallelism``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else spark.sparkContext.defaultParallelism


#: Held for every ``session_confs`` block: two threads saving and restoring
#: the same key would otherwise leave one thread's value behind.
_CONF_LOCK = threading.RLock()


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` block, then put each
    key back as it was (unset when it had no value)."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs (idempotent). Safe on a driver-owned session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this build — fine, it's an optimization conf.
            pass
    try:
        # Batch plans: one shuffle partition per core beats the 200
        # default, with a floor of 8. AQE coalesces the 8 at runtime, and
        # they balance the similarity joins better than one hash
        # partition per core: with the floor removed, perfbench
        # dedup_curation at local[2] (5 pairs) went pass_s 4.30 -> 4.47 s
        # and cold_pass_s 15.7 -> 16.7 s, warm q_jaccard_join and
        # q_dedup_near ~10-15% slower. Streams do not get the floor: a
        # stream runs in a cloned session with AQE off, so every stateful
        # operator keeps one state store per shuffle partition per
        # micro-batch and nothing coalesces them. streaming.jobs starts
        # each stream with one shuffle partition per core instead.
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(session_cores(spark), 8))
        )
    except Exception:
        pass
    return spark


def build_session(app_name: str = "crypto-spark-engine") -> SparkSession:
    """Local session for tests/bench: ``local[$SPARK_GRAFT_CPUS]``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    return configure(spark)
