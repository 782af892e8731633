"""Bronze/silver lakehouse ingestion (SURVEY §1.3, §2.A) — the reference's
dual-store architecture (SQLite transient raw + PostgreSQL persistent
aggregates, /root/reference/README.md:16-31) as a medallion layout:

- bronze ``raw_ticks/``: parquet, partitioned by ``ingest_date``,
  append-only (replaces row-at-a-time SQLite INSERTs,
  dataCollector.py:120-128).
- silver ``hourly_bars/``: parquet, partitioned by ``date``, one row per
  (date, hour, symbol) (replaces PG ``downsampled_prices``,
  dataCollector.py:140-163).
- retention: drop bronze partitions older than a cutoff — one metadata-level
  partition delete per day, replacing ``DELETE FROM raw_prices`` which the
  reference re-runs ~720×/night (dataCollector.py:130-136,193-194 quirk,
  SURVEY §7.4.2).
- idempotent silver writes: dynamic partition overwrite + dropDuplicates on
  the PK replaces the reference's restart-crash PK violation
  (dataCollector.py:146-150 vs :73, SURVEY §7.4.3) — re-running a day is
  safe, exactly-once at rest.

At 100 TB: partition pruning on ingest_date/date bounds every downstream
scan; the silver rollup shuffles once on (hour, symbol); file counts are
controlled by AQE coalescing rather than per-row writes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .catalog import load
from .functions.exact import MONEY, dsum
from .operators.rollup import BAR_COLS, ohlc_bars
from .registry import query


def write_bronze(ticks: DataFrame, bronze_path: str) -> StructType:
    """Append raw ticks partitioned by ingest date; returns the schema
    written: the ticks' own schema plus ``ingest_date`` (``ts`` is stored
    as the source has it, NTZ or nano-longs depending on the parquet
    generation). Reading bronze back with it fires no footer-inference
    job, and an empty bronze (no part files) reads as zero rows."""
    rows = ticks.withColumn("ingest_date", F.to_date("ts"))
    rows.write.mode("append").partitionBy("ingest_date").parquet(bronze_path)
    return rows.schema


#: Silver primary key (dataCollector.py:73); ``date`` is also the partition.
SILVER_KEY = ["date", "hour", "symbol"]

#: The silver row as written (``silver_rows``): read-backs declare it, so
#: they fire no footer-inference job and an empty table reads as 0 rows.
SILVER_DDL = (
    "date date, hour int, symbol string, open_price double, "
    "high_price double, low_price double, close_price double, "
    "avg_price double, sample_count bigint"
)

#: DuckDB oracle shared by every query that reads back a silver table: the
#: persisted rows must equal the direct aggregation, however they got there.
SILVER_ORACLE = """
    SELECT CAST(CAST(date_trunc('hour', ts) AS DATE) AS TIMESTAMP) AS date,
           CAST(hour(ts) AS INTEGER)            AS hour,
           event_type                           AS symbol,
           arg_min(value, ts)                   AS open_price,
           max(value)                           AS high_price,
           min(value)                           AS low_price,
           arg_max(value, ts)                   AS close_price,
           (CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value)) AS avg_price,
           count(*)                             AS sample_count
    FROM events GROUP BY 1, 2, 3
    """


def silver_rows(
    bars: DataFrame, hour_start: Column, symbol: Column | str
) -> DataFrame:
    """Hourly bars → the silver row (date, hour, symbol, O/H/L/C, avg, n);
    ``hour_start`` is the bar's hour column, ``symbol`` its key column."""
    return bars.select(
        F.to_date(hour_start).alias("date"),
        F.hour(hour_start).alias("hour"),
        symbol,
        *BAR_COLS,
    )


def hourly_bars_table(ticks: DataFrame) -> DataFrame:
    """Silver rows straight from ticks, with the PK enforced by
    construction (groupBy keys are unique)."""
    return silver_rows(ohlc_bars(ticks), F.col("hour_ts"), "symbol")


def write_silver(rows: DataFrame, silver_path: str) -> None:
    """Idempotent silver write: PK uniqueness enforced by dropDuplicates,
    then dynamic partition overwrite — only the ``date`` partitions present
    in ``rows`` are replaced, so re-writing a day cannot duplicate rows
    (the exactly-once property the reference lacks). The overwrite mode is
    a writer option, never a conf on the caller's session."""
    (
        rows.dropDuplicates(SILVER_KEY)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(silver_path)
    )


def read_silver(spark: SparkSession, silver_path: str) -> DataFrame:
    """Silver read-back in the oracle's shape (``date`` as a timestamp)."""
    return spark.read.schema(SILVER_DDL).parquet(silver_path).select(
        F.col("date").cast("timestamp_ntz").alias("date"),
        "hour",
        "symbol",
        *BAR_COLS,
    )


def rollup_to_silver(
    spark: SparkSession, bronze_path: str, bronze_schema: StructType, silver_path: str
) -> None:
    """Bronze → hourly OHLC bars → silver, idempotently."""
    bronze = spark.read.schema(bronze_schema).parquet(bronze_path)
    write_silver(hourly_bars_table(bronze), silver_path)


def apply_retention(spark: SparkSession, bronze_path: str, keep_days: int, now_date) -> int:
    """Drop bronze partitions older than the cutoff (metadata-level: the
    partition directories are removed, no data rewrite). Returns partitions
    dropped."""
    import datetime as dt
    import shutil

    cutoff = now_date - dt.timedelta(days=keep_days)
    dropped = 0
    for entry in os.listdir(bronze_path):
        if not entry.startswith("ingest_date="):
            continue
        part_date = dt.date.fromisoformat(entry.split("=", 1)[1])
        if part_date < cutoff:
            shutil.rmtree(os.path.join(bronze_path, entry))
            dropped += 1
    return dropped


def _tick_stream_from_events(t) -> DataFrame:
    """Events reshaped into the reference's tick schema (role mapping per
    FIXTURES.md: ts→timestamp, event_type→symbol, value→price)."""
    return t.events.select(
        F.col("ts"), F.col("event_type").alias("symbol"), F.col("value").alias("price")
    )


@query(
    "q_sink_bronze",
    oracle="""
    SELECT ts, event_type AS symbol, value AS price,
           CAST(ts AS DATE) AS ingest_date
    FROM events
    """,
    tags=("sink", "ingest"),
)
def q_sink_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick stream → partitioned bronze append → read back. The oracle is
    the source projection itself: partitioned persistence must be
    content-lossless INCLUDING the derived partition column (read back as
    DATE from directory values), same contract as q_zorder's rewrite."""
    t = load(spark, sf_dir)
    bronze = os.path.join(tempfile.mkdtemp(prefix="bronze_"), "raw_ticks")
    schema = write_bronze(_tick_stream_from_events(t), bronze)
    return spark.read.schema(schema).parquet(bronze).select(
        "ts", "symbol", "price", "ingest_date"
    )


@query(
    "q_sink_silver",
    oracle=SILVER_ORACLE,
    tags=("sink", "ingest"),
)
def q_sink_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline end-to-end: ticks → bronze → hourly rollup →
    idempotent silver (written TWICE to prove the overwrite is exactly-once)
    → read back. SQL-checked: the persisted silver table must equal the
    oracle's direct aggregation — persistence adds nothing, loses nothing."""
    t = load(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="lake_")
    bronze, silver = os.path.join(base, "raw_ticks"), os.path.join(base, "hourly_bars")
    schema = write_bronze(_tick_stream_from_events(t), bronze)
    rollup_to_silver(spark, bronze, schema, silver)
    rollup_to_silver(spark, bronze, schema, silver)  # idempotency: must not duplicate
    return read_silver(spark, silver)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """MERGE (upsert) into a parquet table without a table format: new rows
    win over existing rows on the PK, rewritten partition-scoped.

    Plan shape: updates ∪ (existing ⟕-anti updates on keys) → dynamic
    partition overwrite of only the partitions present in ``updates``. The
    anti-join replaces a per-row UPDATE; at 100 TB the rewrite cost is
    bounded by the touched partitions, never the whole table — the same
    contract as Delta/Iceberg MERGE, built from stock operators.

    The target holds rows of ``updates``' schema, so it is read back with
    that schema (no footer-inference job).
    """
    existing = spark.read.schema(updates.schema).parquet(target_path)
    touched = updates.select(partition_col).distinct()
    # Only partitions that receive updates are rewritten; anti-join keeps
    # the rows of those partitions that no update supersedes.
    keep = existing.join(F.broadcast(touched), partition_col, "left_semi").join(
        updates.select(*keys), keys, "left_anti"
    )
    merged = updates.select(*existing.columns).unionByName(keep)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(target_path)


@query(
    "q_merge_upsert",
    oracle=SILVER_ORACLE,
    tags=("ingest", "merge"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert correctness end-to-end: seed silver with bars computed from a
    STALE subset (every even event dropped — wrong aggregates on purpose),
    then MERGE the corrected full-data bars in. The merged table must equal
    the oracle's direct full-data aggregation exactly: updates replaced
    every stale row (same PK) and inserted every missing one."""
    t = load(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="merge_")
    silver = os.path.join(base, "hourly_bars")
    ticks = _tick_stream_from_events(t)
    stale = hourly_bars_table(
        ticks.withColumn("_rn", F.monotonically_increasing_id())
        .filter(F.col("_rn") % 2 == 1)
        .drop("_rn")
    )
    stale.write.mode("overwrite").partitionBy("date").parquet(silver)
    corrected = hourly_bars_table(ticks)
    merge_upsert(
        spark, silver, corrected, keys=SILVER_KEY, partition_col="date"
    )
    return read_silver(spark, silver)


@query(
    "q_retention",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS ingest_date FROM events),
         mx AS (SELECT max(ingest_date) AS m FROM d)
    SELECT ingest_date, count(*) AS n_ticks
    FROM d CROSS JOIN mx
    WHERE ingest_date >= m - 7
    GROUP BY ingest_date
    """,
    tags=("ingest", "retention"),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention: write multi-day bronze, drop partitions older than the
    cutoff (keep 7 days from the corpus max date), return the survivors.
    The oracle recomputes the survivor set relationally: partition-drop
    must equal a date filter — nothing more, nothing less (dropping the
    wrong partition, or rewriting surviving rows, both hash-mismatch)."""
    import datetime as dt

    t = load(spark, sf_dir)
    bronze = os.path.join(tempfile.mkdtemp(prefix="bronze_ret_"), "raw_ticks")
    ticks = _tick_stream_from_events(t)
    schema = write_bronze(ticks, bronze)
    max_date = ticks.agg(F.max(F.to_date("ts"))).collect()[0][0]
    if max_date is not None:  # an empty day has no partitions to drop
        apply_retention(spark, bronze, keep_days=7, now_date=max_date)
    return (
        spark.read.schema(schema)
        .parquet(bronze)
        .groupBy("ingest_date")
        .agg(F.count(F.lit(1)).alias("n_ticks"))
    )


@query(
    "q_scd2",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1995-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM customer WHERE c_acctbal >= 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           TIMESTAMP '1995-01-01', TIMESTAMP '2000-01-01', FALSE
    FROM customer WHERE c_acctbal < 0
    UNION ALL
    SELECT c_custkey, 'DELINQUENT', c_acctbal,
           TIMESTAMP '2000-01-01', NULL, TRUE
    FROM customer WHERE c_acctbal < 0
    """,
    tags=("ingest", "merge"),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a change batch (negative
    balances reclassified to 'DELINQUENT', deterministically derived from
    the data) to the customer dim — close the superseded row, open the new
    version, pass unchanged rows through. The standard batch SCD2 plan:
    semi/anti joins on the PK plus a three-way union, with the change
    batch broadcast (change sets are small relative to the dimension).
    The oracle enumerates the same three branches declaratively."""
    t = load(spark, sf_dir)
    eff_old = F.lit("1995-01-01").cast("timestamp_ntz")
    eff_new = F.lit("2000-01-01").cast("timestamp_ntz")
    null_ts = F.lit(None).cast("timestamp_ntz")
    dim = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    changes = dim.filter(F.col("c_acctbal") < 0).withColumn(
        "c_mktsegment", F.lit("DELINQUENT")
    )
    change_keys = F.broadcast(changes.select("c_custkey"))
    unchanged = dim.join(change_keys, "c_custkey", "left_anti").select(
        "*",
        eff_old.alias("valid_from"),
        null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = dim.join(change_keys, "c_custkey", "left_semi").select(
        "*",
        eff_old.alias("valid_from"),
        eff_new.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changes.select(
        "*",
        eff_new.alias("valid_from"),
        null_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


def compact_parquet(spark: SparkSession, path: str, target_files: int) -> None:
    """OPTIMIZE-style small-file compaction with stock operators: read,
    coalesce to the target file count, rewrite atomically (temp dir + swap).
    coalesce() is a narrow dependency — no shuffle; each output file unions
    whole input files. At 100 TB this runs per-partition (bounded working
    set), keyed off file-count/size stats, exactly like a table format's
    OPTIMIZE — compaction cost scales with the data rewritten, never the
    table."""
    import shutil

    tmp = path.rstrip("/") + "__compacting"
    spark.read.parquet(path).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


@query(
    "q_compact",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
    tags=("ingest", "maintenance"),
)
def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: events written as 32 shards
    (the pathological many-small-files state a 5-second micro-batch writer
    like the reference produces daily), compacted to 4, read back — content
    must be byte-identical to the source (the oracle reads the original
    table). tests/test_compaction.py asserts the file count actually
    dropped."""
    t = load(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="compact_"), "events_shards")
    t.events.select("event_id", "event_type", "value").repartition(
        32
    ).write.mode("overwrite").parquet(path)
    compact_parquet(spark, path, target_files=4)
    return spark.read.parquet(path)


@query(
    "q_incremental_agg",
    oracle="""
    SELECT date_trunc('day', ts) AS day_ts, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           count(*)   AS n_events,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    tags=("ingest", "agg"),
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance via mergeable partials: two disjoint
    arrival batches (split on event_id parity, so every (day, type) group
    receives rows from BOTH) are each reduced to partial aggregates
    (sum/count/min/max — all associative+commutative), then merged by
    re-aggregation: sum-of-sums, sum-of-counts, min-of-mins, max-of-maxes,
    with AVG derived at the end (never averaged across partials). The
    merged view must equal the oracle's full recompute — the algebraic
    contract that lets a 100 TB rollup absorb a new partition by merging
    its partials instead of rescanning history."""
    t = load(spark, sf_dir)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day_ts"), "event_type"
        ).agg(
            F.sum(F.col("value").cast(MONEY)).alias("p_sum"),
            F.count(F.lit(1)).alias("p_n"),
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
        )

    batch1 = partials(t.events.filter(F.col("event_id") % 2 == 0))
    batch2 = partials(t.events.filter(F.col("event_id") % 2 == 1))
    return (
        batch1.unionByName(batch2)
        .groupBy("day_ts", "event_type")
        .agg(
            F.sum("p_sum").cast("double").alias("total_value"),
            F.sum("p_n").alias("n_events"),
            F.min("p_min").alias("min_value"),
            F.max("p_max").alias("max_value"),
            (F.sum("p_sum").cast("double") / F.sum("p_n")).alias(
                "avg_value"
            ),
        )
    )


def observed(df: DataFrame, name: str = "ingest"):
    """Attach write-path observability (``Dataset.observe``): row count,
    null-price count, event-time bounds — collected as accumulator-style
    metrics DURING whatever action consumes ``df``, costing zero extra
    passes. The lakehouse replacement for the reference's per-iteration
    log lines (dataCollector.py:116,163,204): metrics ride the job instead
    of a second scan. Returns ``(df, observation)``; read
    ``observation.get`` after the action completes."""
    from pyspark.sql import Observation

    obs = Observation(name)
    value_col = "value" if "value" in df.columns else df.columns[-1]
    ts_col = "ts" if "ts" in df.columns else df.columns[0]
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col(value_col).isNull().cast("long")).alias("null_values"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
    )
    return out, obs


@query(
    "q_incremental_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem, orders, customer
    WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    GROUP BY 1, 2, 3
    """,
    tags=("ingest", "incremental", "join"),
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance (the join sibling of
    q_incremental_agg): given a materialized A⋈B over yesterday's
    snapshots and today's deltas ΔA, ΔB, the maintained result is
    old ∪ (ΔA⋈B_old) ∪ (A_old⋈ΔB) ∪ (ΔA⋈ΔB) — delta-join algebra that
    touches |Δ|-proportional data instead of re-joining the world, THE
    operation that keeps a 100 TB materialization fresh from a 100 GB
    daily batch. Here lineitem/orders are split on a date boundary into
    (old, delta); the four delta terms are computed, unioned with the
    'materialized' old⋈old, rolled up, and hash-checked against the
    full-recompute oracle."""
    t = load(spark, sf_dir)
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    li = t.lineitem.select(
        "l_orderkey", "l_shipdate",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    o = t.orders.select("o_orderkey", "o_custkey", "o_orderdate")
    a_old, a_new = li.filter(F.col("l_shipdate") < cut), li.filter(
        F.col("l_shipdate") >= cut
    )
    b_old, b_new = o.filter(F.col("o_orderdate") < cut), o.filter(
        F.col("o_orderdate") >= cut
    )

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.l_orderkey == b.o_orderkey)

    maintained = (
        j(a_old, b_old)  # the standing materialization
        .unionByName(j(a_new, b_old))
        .unionByName(j(a_old, b_new))
        .unionByName(j(a_new, b_new))
    )
    return (
        maintained.join(
            F.broadcast(t.customer.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_custkey", "c_name")
        .agg(dsum("rev").alias("revenue"))
    )


@query(
    "q_surrogate_key",
    oracle="""
    SELECT row_number() OVER (ORDER BY ts, event_id) AS sk,
           event_id, event_type
    FROM events
    """,
    tags=("ingest", "keys"),
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense surrogate keys: global rank in the canonical
    (ts, event_id) order, computed WITHOUT a single-partition window. The
    tempting alternative, ``monotonically_increasing_id()``, is
    partition-layout-dependent — ids change when the scan parallelism
    does, which silently breaks any downstream join keyed on them.

    Two-pass dense-rank plan (the 100 TB shape): repartitionByRange on the
    sort key (parallel range shuffle), per-partition row_number (each
    range sorts independently — no partition sees more than its range),
    then a broadcast join of per-range prefix offsets (one tiny N-row
    aggregate; the only global window runs over N partition counts, not
    the fact table). The result is boundary-invariant: sk = range offset +
    local rank equals the global rank wherever the sampled range bounds
    fall, so the output stays reproducible and oracle-checkable while
    every fact-sized step is parallel."""
    from .ranking import global_row_number

    t = load(spark, sf_dir)
    return global_row_number(
        t.events.select("ts", "event_id", "event_type"),
        "ts",
        "event_id",
        out_col="sk",
    ).select("sk", "event_id", "event_type")
