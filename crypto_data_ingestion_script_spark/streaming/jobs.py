"""Structured Streaming layer (SURVEY §2.D).

The reference is a 5-second micro-batch loop with hand-rolled hourly state
(/root/reference/dataCollector.py:179-226: poll, accumulate, flush on
hour-boundary, reset). Structured Streaming models that natively:
``readStream → withWatermark → groupBy(window(ts, '1 hour'), key).agg(...)
→ writeStream`` — state lifecycle, late data, and exactly-once sinks are
engine-managed (the crash-loss window the reference documents,
README.md:43-44, disappears via checkpointing).

Design per SURVEY §7.0: all aggregation semantics live in batch code; the
streaming wrappers reuse them. Tests drive streams with availableNow
triggers over file sources — deterministic, no wall clock (SURVEY §7.4.5).
The declared tumbling query is hash-checked against the SAME oracle as the
batch rollup: stream ≡ batch equivalence is part of the correctness gate.

Intentional semantic upgrades over the reference (SURVEY §7.4.2):
- event-time windows bucket by ts, not flush time → the reference's
  stall-misattribution bug (dataCollector.py:186-189) can't happen;
- watermark handles late data instead of silently folding it into the
  wrong hour.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..catalog import load
from ..functions.exact import davg
from ..ingest import SILVER_ORACLE, read_silver, silver_rows, write_silver
from ..operators.rollup import BAR_COLS, HOURLY_BARS_ORACLE, bar_aggs
from ..registry import query
from ..session import session_confs, session_cores

EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def stream_ckpt_dir(prefix: str = "ckpt_") -> str:
    """Checkpoint dir for the availableNow test harness: RAM-backed
    /dev/shm when present, OS tmp otherwise. Every micro-batch commits an
    offset log, a commit log and one state-store delta file per shuffle
    partition (one per core, see ``_run_available``) per stateful
    operator. Without the native Hadoop library each of those files costs
    forked processes, not I/O: ``RawLocalFileSystem`` runs ``chmod`` for
    every mkdir and file create, and Spark's default ``FileContext``
    checkpoint manager runs ``readlink`` for every rename. Each stream of
    the perfbench ``ingest_hourly`` ops (local[2]) writes 8 checkpoint
    files and forked 80 ``readlink`` (10 per file: each rename also moves
    the file's ``.crc``) and ~30 ``chmod`` (JFR ``jdk.ProcessStart``,
    4-vCPU host). Harness checkpoints therefore write through
    ``LOCAL_CKPT_CONFS``, which forks no ``readlink``. Durability
    across driver restarts is irrelevant for a fresh-per-call harness
    checkpoint; a production deployment points checkpointLocation at
    durable storage and keeps Spark's default manager."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


#: Checkpoint manager of every harness checkpoint (``stream_ckpt_dir``).
#: It renames with ``File.renameTo``, which is atomic on a local file
#: system and forks nothing; Spark's default for ``file:`` paths, the
#: ``FileContext`` manager, forks ``readlink`` for each rename.
LOCAL_CKPT_CONFS = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


#: Raw dtype of events.ts per sf_dir — parquet generations differ (older
#: testdata: TIMESTAMP(NANOS) surfaced as nano-longs via nanosAsLong; newer:
#: TIMESTAMP(MICROS) surfaced natively). Probed once from the batch footer.
_RAW_TS_DTYPE: dict[str, str] = {}


def _events_raw_ts_dtype(spark: SparkSession, events_path: str) -> str:
    dtype = _RAW_TS_DTYPE.get(events_path)
    if dtype is None:
        dtype = dict(spark.read.parquet(events_path).dtypes)["ts"]
        _RAW_TS_DTYPE[events_path] = dtype
    return dtype


def _stream_events_from(
    spark: SparkSession, directory: str, probe_path: str, **options: str
) -> DataFrame:
    """File-source stream over events-shaped parquet, normalizing ts to a
    TIMESTAMP (LTZ) column whatever the file's physical encoding. Watermarks
    require LTZ; the session TZ is pinned UTC, so wall clock matches the NTZ
    batch path exactly (catalog._NANO_TS_COLS handles the batch side)."""
    nanos = _events_raw_ts_dtype(spark, probe_path) == "bigint"
    ddl = EVENTS_DDL.replace("ts timestamp_ntz", "ts bigint") if nanos else EVENTS_DDL
    stream = spark.readStream.schema(ddl).options(**options).parquet(directory)
    if nanos:
        # TIMESTAMP(NANOS) read as nano-longs: truncate ns → us like DuckDB.
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Native TIMESTAMP(MICROS): read as NTZ (matching the file), cast to LTZ.
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the sf_dir events parquet (one-table glob).

    Handles BOTH table layouts: a single ``events.parquet`` file (the
    driver's testdata) is streamed from ``sf_dir`` with a glob filter,
    and a ``events.parquet/`` DIRECTORY of part files (the production
    multi-file layout, e.g. make_benchdata output) is streamed as the
    directory itself — a glob filter of the directory name would match
    no part files and the stream would silently read zero rows."""
    probe = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(probe):
        return _stream_events_from(spark, probe, probe)
    return _stream_events_from(
        spark, sf_dir, probe, pathGlobFilter="events.parquet"
    )


def tumbling_ohlc_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of operators/rollup.ohlc_bars: 1-hour tumbling
    event-time windows per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(*bar_aggs("ts", "value"))
    )


def _hour_bars(out: DataFrame) -> DataFrame:
    """A tumbling_ohlc_stream result in the batch bar shape (q_ohlc_hourly)."""
    return out.select(
        F.col("w.start").cast("timestamp_ntz").alias("hour_ts"),
        "event_type",
        *BAR_COLS,
    )


def _run_available(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Drive a configured stream writer to completion: fresh harness
    checkpoint, availableNow trigger. The checkpoint makes restarts
    exactly-once — the reference's restart duplicate-key hazard
    (dataCollector.py:146-150) is structurally gone — but once the query
    has terminated it is dead weight (in RAM when /dev/shm backed), so it
    is removed either way.

    The checkpoint is written through ``LOCAL_CKPT_CONFS``' FileSystem
    manager. That is safe only because this checkpoint is local, owned by
    this one call and deleted at its end: the manager relies on rename
    being atomic, which a local file system gives and an object store does
    not. The key is held until ``awaitTermination()`` returns, not only
    around ``start()``: the file source's log (``sources/0``) is created
    on the stream thread from the caller's session after ``start()``
    returns; with the key restored right after ``start()``, 18 stream
    runs still forked 24 ``readlink``, all from that log's writes.
    ``session_confs`` holds ``session._CONF_LOCK`` all that time, so no
    ``foreachBatch`` callback may call ``session_confs`` (it would wait on
    the lock for ever); ``write_silver`` and ``incremental_near_dedup``
    do not.

    The stream starts with one shuffle partition per core, not
    ``configure()``'s batch floor of 8: it runs in a session cloned at
    ``start()`` with AQE off, where every stateful operator keeps one
    state store per shuffle partition and nothing coalesces them. The
    clone holds the count from then on (and the first batch records it in
    the fresh checkpoint), so the caller's conf is restored as soon as
    ``start()`` returns."""
    ckpt = stream_ckpt_dir()
    cores = {"spark.sql.shuffle.partitions": str(session_cores(spark))}
    try:
        with session_confs(spark, LOCAL_CKPT_CONFS):
            with session_confs(spark, cores):
                q = (
                    writer.option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(agg: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion into a memory sink; returns
    the materialized result. Leaves nothing behind in the session: the
    checkpoint is removed and the sink's temp view is dropped once the
    result DataFrame is bound (the DataFrame keeps the sink's rows alive
    only as long as the caller holds it)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = agg.sparkSession
    _run_available(
        spark,
        agg.writeStream.outputMode(output_mode).format("memory").queryName(name),
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q_stream_tumbling",
    oracle=HOURLY_BARS_ORACLE,
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ≡ batch: the events parquet driven through a real streaming
    query (availableNow), hash-checked against the SAME oracle as the batch
    flagship — the strongest form of the reference's core-loop parity."""
    load(spark, sf_dir)
    agg = tumbling_ohlc_stream(_events_stream(spark, sf_dir))
    return _hour_bars(run_to_memory(agg, output_mode="complete"))


@query(
    "q_sliding",
    oracle="""
    SELECT to_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - off)
             ::TIMESTAMP AS w_start,
           event_type,
           count(*)   AS n,
           (CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) AS avg_value
    FROM events, (SELECT unnest([0, 300]) AS off)
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute window, 5-minute slide (each event lands in exactly
    2 windows). Spark's native window() works in batch too; the oracle
    reconstructs the epoch-aligned window starts arithmetically."""
    t = load(spark, sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), davg("value").alias("avg_value"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n", "avg_value"
        )
    )


@query(
    "q_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("streaming", "window"),
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-minute inactivity gap), batch analog: lag + cumsum
    over a per-user window — one shuffle on user_id. The streaming-native
    twin is session_window() in sessionized_stream()."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(cum).cast("bigint")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming-native sessionization via session_window (dynamic-gap
    windows, engine-managed state) — the production path; q_session is its
    batch-checkable analog."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_to_silver(agg: DataFrame, silver_path: str) -> DataStreamWriter:
    """Production sink shape: windowed aggregation → ``foreachBatch`` →
    idempotent partitioned silver write (``ingest.write_silver``). Each
    micro-batch rewrites only the date partitions it touches and dedups on
    the bar PK, so a replayed batch after a crash cannot duplicate rows —
    checkpoint + idempotent writer = effectively-once at rest, the property
    the reference's plain INSERT lacks (dataCollector.py:146-150 vs :73).
    The caller picks the checkpoint and trigger."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = silver_rows(
            batch_df, F.col("w.start"), F.col("event_type").alias("symbol")
        )
        write_silver(rows, silver_path)

    return agg.writeStream.outputMode("complete").foreachBatch(write_batch)


@query(
    "q_stream_silver",
    oracle=SILVER_ORACLE,
    tags=("streaming", "sink"),
)
def q_stream_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full production loop as one streaming pipeline:
    file-source stream → event-time tumbling OHLC → foreachBatch idempotent
    silver write → read back. Hash-checked against the direct batch oracle:
    streaming + persistence must be value-invisible."""
    load(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_silver_")
    silver = os.path.join(base, "hourly_bars")
    agg = tumbling_ohlc_stream(_events_stream(spark, sf_dir))
    _run_available(spark, stream_to_silver(agg, silver))
    return read_silver(spark, silver)


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT event_id FROM events",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    state-bounded (old keys expire instead of growing forever). Driven with
    availableNow. Driver-checkable projection: the emitted key set — which
    row survives per key is arrival-order-specific, but the set of emitted
    event_ids must equal the batch DISTINCT."""
    load(spark, sf_dir)
    stream = _events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    return run_to_memory(deduped, output_mode="append").select("event_id")


@query(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts)                               AS session_start,
           max(ts) + INTERVAL 30 MINUTE          AS session_end,
           count(*)                              AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("streaming", "window"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-NATIVE sessionization hash-checked: session_window()
    (engine-managed dynamic-gap state) driven through one availableNow
    batch must produce exactly the sessions the batch gaps-and-islands
    formulation (q_session's oracle) derives — session_end is last event
    + gap by session_window's definition, mirrored in the oracle. A new
    session starts when the gap is ≥ the 30-minute threshold (session
    windows are [start, last+gap) half-open)."""
    load(spark, sf_dir)
    agg = sessionized_stream(_events_stream(spark, sf_dir))
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


#: RocksDB-backed state store (SURVEY §2.D scale path): keeps streaming
#: state off-heap and spillable-to-disk, so per-executor state is bounded
#: by local SSD, not JVM heap — the difference between OOM and steady-state
#: at 100 TB keyspaces. Changelog checkpointing uploads per-batch deltas
#: instead of full SST snapshots.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Session confs q_stream_rocksdb sets for its run and restores after.
ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


@query(
    "q_stream_rocksdb",
    oracle=HOURLY_BARS_ORACLE,
    tags=("streaming", "statestore"),
)
def q_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-OHLC stream executed on the RocksDB state store
    provider instead of the default HDFS-backed in-memory map — byte-for-
    byte the same results (same oracle as q_stream_tumbling), different
    state engine. Changelog checkpointing is enabled the way a production
    job would run it: per-batch deltas to the checkpoint, full SST uploads
    only at maintenance intervals."""
    load(spark, sf_dir)
    with session_confs(spark, ROCKSDB_CONFS):
        agg = tumbling_ohlc_stream(_events_stream(spark, sf_dir))
        out = run_to_memory(agg, output_mode="complete")
    return _hour_bars(out)


@query(
    "q_stream_dedup_watermark",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
    tags=("streaming", "dedup"),
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under REAL duplication: the same
    events file is delivered as two successive micro-batches (a redelivery
    storm — the at-least-once upstream every pipeline eventually meets),
    and the operator must emit each key exactly once while expiring state
    past the watermark. Unlike plain dropDuplicates, state is bounded by
    the watermark horizon, not the key universe — the difference between
    O(recent) and O(forever) state at 100 TB/day. Oracle: the batch
    distinct, i.e. the original table."""
    t = load(spark, sf_dir)
    indir = tempfile.mkdtemp(prefix="dedup_wm_")
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Multi-file table layout: each generation is the directory's part
        # files copied under a generation prefix. FileStreamSource orders
        # files by MODIFICATION TIMESTAMP (ms granularity), not path —
        # part files copied within the same millisecond could interleave
        # gen0/gen1 across the two micro-batches — so each copy gets an
        # explicit strictly-increasing mtime to pin the generation order.
        import glob as _glob

        parts = sorted(_glob.glob(os.path.join(src, "*.parquet")))
        base = 1_600_000_000  # any fixed epoch; only the ordering matters
        for gen in (0, 1):
            for i, f in enumerate(parts):
                dst = os.path.join(indir, f"gen{gen}_{i:04d}.parquet")
                shutil.copy(f, dst)
                os.utime(dst, (base + gen * 1000 + i, base + gen * 1000 + i))
        n_files_per_gen = str(len(parts))
    else:
        for gen in (0, 1):
            dst = os.path.join(indir, f"gen{gen}.parquet")
            shutil.copy(src, dst)
            os.utime(dst, (1_600_000_000 + gen, 1_600_000_000 + gen))
        n_files_per_gen = "1"
    stream = _stream_events_from(
        # one generation per micro-batch, whatever the file count
        spark, indir, src, maxFilesPerTrigger=n_files_per_gen
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    try:
        return run_to_memory(deduped, output_mode="append")
    finally:
        # Memory sink holds every row after awaitTermination; the staged
        # 2x-events redelivery copies are dead weight (the ADVICE r12
        # /tmp-leak class — sweeps invoke queries repeatedly).
        shutil.rmtree(indir, ignore_errors=True)


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the sf_dir documents parquet — schema
    taken from the session's catalog, which read it once (documents has
    no encoding drift to normalize, unlike events.ts), so no call fires a
    footer-inference job. Handles both the single-file and the directory
    layout like _events_stream."""
    probe = os.path.join(sf_dir, "documents.parquet")
    schema = load(spark, sf_dir).documents.schema
    if os.path.isdir(probe):
        return spark.readStream.schema(schema).parquet(probe)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@query(
    "q_stream_incremental_dedup",
    # Shares q_dedup_incremental's oracle verbatim: streaming delivery
    # must not change a single verdict (stream ≡ batch).
    oracle=None,  # set below after import to avoid a module cycle at def time
    tags=("streaming", "llm", "dedup", "incremental"),
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental cross-corpus near-dedup — the recurring-crawl
    loop as a LIVE pipeline: new-batch documents arrive as files on a
    stream and every micro-batch is screened against the STATIC existing
    corpus with the full batch machinery (MinHash 32 → 16×2 LSH bands,
    band equi-join, exact Jaccard ≥ 0.8 verify) via ``foreachBatch`` —
    the production pattern when per-batch logic needs batch-only
    operators (localCheckpoint, multi-stage self-joins) that the
    continuous planner can't host. Verdicts append to a parquet sink;
    because q_dedup_incremental is batch-size-invariant (pinned in
    tests/test_dedup.py), one availableNow batch or many micro-batches
    emit the IDENTICAL per-doc rows, and the query shares the batch
    oracle verbatim.

    Scale shape: the corpus's shingle-set collapse + signatures build
    ONCE per run (in production: precomputed and stored per crawl) and
    re-broadcast per micro-batch; each batch pays only its own banding +
    the band-keyed shuffle join. State lives in the sink (appended
    verdicts), not the state store — restart resumes from the file-source
    offset log exactly-once."""
    from ..llm.dedup import BATCH_MOD, BATCH_REM

    t = load(spark, sf_dir)
    corpus = t.documents.filter(
        F.col("doc_id") % BATCH_MOD != BATCH_REM
    ).localCheckpoint()
    stream = _documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % BATCH_MOD == BATCH_REM
    )
    return stream_incremental_dedup(stream, corpus)


#: The row ``incremental_near_dedup`` writes per screened document, which
#: the verdict sink is read back with.
VERDICT_DDL = (
    "doc_id bigint, n_matches bigint, best_jaccard double, "
    "first_match_id bigint, is_novel boolean"
)


def stream_incremental_dedup(stream: DataFrame, corpus: DataFrame) -> DataFrame:
    """Drive a documents-shaped STREAM through the batch incremental
    near-dedup against a static ``corpus``, appending per-doc verdicts to
    a parquet sink; returns the read-back verdicts. Exposed so tests can
    deliver the same batch as ONE availableNow batch or several
    maxFilesPerTrigger micro-batches and pin that the rows are
    identical."""
    from ..llm.dedup import incremental_near_dedup

    spark = corpus.sparkSession
    outdir = tempfile.mkdtemp(prefix="stream_inc_dedup_")

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_near_dedup(batch_df, corpus).write.mode("append").parquet(
            outdir
        )

    _run_available(spark, stream.writeStream.foreachBatch(screen_batch))
    # Declared, not inferred: no footer job, and a stream that wrote no
    # file (zero-row documents) reads back zero rows.
    return spark.read.schema(VERDICT_DDL).parquet(outdir)


# Late-bind the shared oracle (llm.dedup imports nothing from streaming,
# so importing it here is cycle-free at call time but kept out of the
# decorator line for symmetry with the lazy import inside the fn).
from ..llm.dedup import INCREMENTAL_DEDUP_ORACLE as _INC_ORACLE  # noqa: E402
from ..registry import REGISTRY as _REGISTRY  # noqa: E402

_REGISTRY["q_stream_incremental_dedup"].oracle = _INC_ORACLE


@query(
    "q_stream_quality_gate",
    oracle=None,  # late-bound below: rendered with the classifier constants
    tags=("streaming", "llm", "quality"),
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_quality_classifier gate as a LIVE ingest filter: documents
    arrive as a file stream, each micro-batch explodes to tokens and the
    per-document integer weight sum accumulates in the ENGINE's streaming
    aggregation state (native shuffle agg + state store — not
    foreachBatch; the gate is a pure per-key aggregate, exactly what the
    continuous planner hosts natively, in contrast to
    q_stream_incremental_dedup's batch-only machinery). Complete-mode
    output carries (doc_id, n_tokens, keep); because the sum is exact
    integer arithmetic, stream delivery order cannot change a verdict
    and the query shares q_quality_classifier's decision rule verbatim —
    the oracle is the batch statement of the same gate.

    Scale shape: one token-grain map stage, one key-partitioned
    stateful aggregation whose partials collapse map-side per
    micro-batch; state is one (sum, count) pair per in-flight document.
    In production the complete-mode sink becomes append with a
    watermark on ingest time once documents stop mutating."""
    from ..llm.text import QC_BUCKETS, QC_MOD, QC_SHIFT

    load(spark, sf_dir)
    stream = _documents_stream(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % QC_BUCKETS
    )
    wnum = (bucket * F.lit(2654435761)) % QC_MOD - QC_SHIFT
    agg = (
        stream.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .select("doc_id", wnum.alias("wnum"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("wnum").alias("s"),
        )
    )
    return run_to_memory(agg, output_mode="complete").select(
        "doc_id", "n_tokens", (F.col("s") > 0).alias("keep")
    )


from ..llm.text import QC_BUCKETS as _QCB, QC_MOD as _QCM, QC_SHIFT as _QCS  # noqa: E402

_REGISTRY["q_stream_quality_gate"].oracle = f"""
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           (sum((CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT)
                 AS BIGINT) % {_QCB} * 2654435761) % {_QCM} - {_QCS}) > 0)
             AS keep
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents)
    GROUP BY doc_id
"""


@query(
    "q_stream_topk",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS hour_ts, event_type,
             count(*) AS n, round(sum(value), 4) AS total_value
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT hour_ts, event_type, n, total_value,
             row_number() OVER (PARTITION BY hour_ts
                                ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT hour_ts, event_type, CAST(n AS BIGINT) AS n,
           total_value, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3 ORDER BY hour_ts, rnk
    """,
    tags=("streaming", "window"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed top-k: the stream maintains per-(hour, type)
    counts+sums in complete mode (the trending-topics / hot-keys query
    every event platform serves); the rank cut runs on the SERVING read
    of the materialized state — exactly where production top-k lives
    (state stores hold additive aggregates; ranking is not an
    incremental-friendly operator, so it belongs on the read path, not
    in the update path).

    Deterministic ties (count desc, then type) so replays hash-match.
    Scale: streaming state is (windows × types) — bounded, additive,
    map-side-combinable per micro-batch; the serving rank is a
    window-grain exchange over that summary, never over events."""
    load(spark, sf_dir)
    counts = (
        _events_stream(spark, sf_dir)
        .groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    out = run_to_memory(counts, output_mode="complete")
    w = Window.partitionBy("hour_ts").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        out.select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_ts"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "total_value",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("hour_ts", "rnk")
    )


@query(
    "q_watermark_lateness",
    oracle="""
    WITH arr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS frontier
      FROM events
    ),
    lat AS (
      SELECT CAST(floor(epoch(frontier - ts) / 60) AS BIGINT) AS late_min
      FROM arr
    ),
    tot AS (SELECT count(*) AS n FROM lat)
    SELECT least(late_min, 10) AS late_bucket_min,
           CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) / CAST(n AS DOUBLE), 8) AS share,
           CAST(least(late_min, 10) <= 5 AS BOOLEAN) AS within_5m_watermark
    FROM lat CROSS JOIN tot
    GROUP BY least(late_min, 10), n ORDER BY late_bucket_min
    """,
    tags=("streaming", "quality"),
)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: how late does data actually arrive?
    Lateness of each event = event-time frontier at its ARRIVAL (running
    max of ts in arrival order, event_id being the arrival sequence)
    minus its own ts — exactly the quantity a streaming watermark
    subtracts against. The bucketed histogram (minutes, capped at 10+)
    with a ≤5-minute flag is the evidence for choosing
    withWatermark("ts", ...): pick the bucket where cumulative share
    crosses your completeness SLO, and everything later is the fraction
    the pipeline will drop.

    Batch plan on the same events the streaming jobs consume: the
    arrival-ordered running max uses ranking.py's TWO-PASS plan
    (per-range local running maxes + a broadcast exclusive prefix max
    of range summaries) — a bare Window.orderBy would funnel every row
    through ONE task (measured 5.9 s vs 1.6 s at 10M rows, SCALE_r10;
    fatal at 100 TB). Then map-side bucketing and a bucket-grain
    rollup. This is the operator that SIZES the watermarks the
    q_stream_* family declares."""
    from ..ranking import global_running_max

    t = load(spark, sf_dir)
    arr = global_running_max(
        t.events.select("event_id", "ts"),
        "ts",
        "event_id",
        out_col="frontier",
    )
    lat = arr.select(
        F.floor(
            (
                F.unix_micros(F.col("frontier").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            / 60_000_000
        )
        .cast("bigint")
        .alias("late_min")
    )
    tot = lat.agg(F.count(F.lit(1)).alias("n"))
    return (
        lat.select(F.least(F.col("late_min"), F.lit(10)).alias("late_bucket_min"))
        .groupBy("late_bucket_min")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "late_bucket_min",
            "n_events",
            F.round(
                F.col("n_events") / F.col("n").cast("double"), 8
            ).alias("share"),
            (F.col("late_bucket_min") <= 5).alias("within_5m_watermark"),
        )
        .orderBy("late_bucket_min")
    )
