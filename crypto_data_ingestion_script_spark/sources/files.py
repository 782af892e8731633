"""File-format sources/sinks (SURVEY §2.A): parquet is the lake substrate
(exercised by every query via the catalog); CSV and JSON are interchange
formats with explicit schemas (never inferSchema — schema-on-write
discipline per SURVEY §1.2).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV with declared schema + permissive mode: malformed rows null out
    rather than failing the job (row-level tolerance, reference
    dataCollector.py:115-116 analog for files)."""
    return spark.read.csv(path, schema=schema, header=True, mode="PERMISSIVE")


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.json(path, schema=schema)


@query(
    "q_scan_csv_roundtrip",
    oracle="""
    SELECT event_id, event_type, value, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts_iso
    FROM events WHERE event_id < 200
    """,
    tags=("source", "csv"),
)
def q_scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → CSV → read back with explicit schema; values must survive
    the round-trip bit-for-bit (timestamps carried as ISO micros — the
    reference's own wire format, dataCollector.py:126)."""
    t = load(spark, sf_dir)
    subset = t.events.filter(F.col("event_id") < 200).select(
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts_iso"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="csv_roundtrip_"), "events_csv")
    subset.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    return read_csv(
        spark,
        out,
        schema="event_id bigint, event_type string, value double, ts_iso string",
    )


@query(
    "q_scan_json_roundtrip",
    oracle="""
    SELECT event_id, event_type, value, props
    FROM events WHERE event_id < 200
    """,
    tags=("source", "json"),
)
def q_scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → JSON-lines → read back with explicit schema. The oracle
    checks text-serialization fidelity on the typed columns: bigints,
    strings, and DOUBLES must survive the decimal round-trip exactly
    (Spark writes shortest-exact representations). Timestamps are
    excluded from the hash — JSON timestamp formatting is a lossy
    format-option choice, exercised rows-only by the schema gate."""
    t = load(spark, sf_dir)
    subset = t.events.filter(F.col("event_id") < 200)
    out = os.path.join(tempfile.mkdtemp(prefix="json_roundtrip_"), "events_json")
    subset.coalesce(1).write.mode("overwrite").json(out)
    return read_json(spark, out, schema=EVENTS_DDL).select(
        "event_id", "event_type", "value", "props"
    )


@query(
    "q_scan_orc_roundtrip",
    oracle="""
    SELECT event_id, event_type, value
    FROM events WHERE event_id < 200
    """,
    tags=("source", "orc"),
)
def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → ORC → read back; the second columnar format the lake can
    speak natively (vectorized reader, predicate pushdown, same scan
    planning as parquet). Values must survive bit-for-bit."""
    t = load(spark, sf_dir)
    subset = t.events.filter(F.col("event_id") < 200).select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="orc_roundtrip_"), "events_orc")
    subset.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "q_scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 20
    """,
    tags=("source", "binary"),
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source: opaque assets (here: per-document text payloads
    written as raw .bin files) ingested as (path, length, content) rows —
    the entry point of every multimodal pipeline (llm/multimodal.py decodes
    downstream). Driver-checkable round-trip: temp-local paths are
    projected back to the doc_id encoded in the filename, and the payload
    is verified losslessly via byte length + content digest, both of which
    the oracle recomputes from the source table (octet_length of the UTF-8
    encoding / md5 of the same bytes)."""
    t = load(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="binassets_")
    # Write a deterministic handful of binary assets from document texts.
    docs = (
        t.documents.filter(F.col("doc_id") < 20)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        .collect()
    )
    for r in docs:
        with open(os.path.join(out, f"doc_{r['doc_id']:05d}.bin"), "wb") as f:
            f.write(bytes(r["payload"]))
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.regexp_extract("path", r"doc_(\d+)\.bin", 1)
            .cast("bigint")
            .alias("doc_id"),
            "length",
            F.md5("content").alias("content_md5"),
        )
    )


@query(
    "q_scan_xml_roundtrip",
    oracle="""
    SELECT event_id, event_type, value
    FROM events WHERE event_id < 200
    """,
    tags=("source", "xml"),
)
def q_scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet → XML → read back with an explicit schema (Spark 4 ships the
    XML source natively): the interchange format for feed-style ingestion.
    Schema-on-read is declared, never inferred, so numeric types survive
    the text roundtrip exactly like the CSV discipline above."""
    t = load(spark, sf_dir)
    subset = t.events.filter(F.col("event_id") < 200).select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="xml_roundtrip_"), "events_xml")
    subset.write.mode("overwrite").option("rowTag", "event").xml(out)
    return (
        spark.read.schema("event_id bigint, event_type string, value double")
        .option("rowTag", "event")
        .xml(out)
    )


@query(
    "q_schema_evolution",
    oracle="""
    SELECT doc_id, n_chars, NULL AS lang
    FROM documents WHERE doc_id < 100
    UNION ALL BY NAME
    SELECT doc_id, n_chars, lang
    FROM documents WHERE doc_id >= 100 AND doc_id < 200
    """,
    tags=("source", "schema"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 0 was written before the
    ``lang`` column existed; generation 1 added it. ``mergeSchema`` unifies
    the footers into one superset schema, null-filling the old files —
    additive evolution without rewriting history, the lake's contract for
    append-heavy bronze zones. (Type-changing or renaming evolution still
    requires a rewrite — only additive is free.)"""
    t = load(spark, sf_dir)
    base = os.path.join(tempfile.mkdtemp(prefix="schema_evo_"), "docs")
    t.documents.filter(F.col("doc_id") < 100).select("doc_id", "n_chars").write.parquet(
        os.path.join(base, "gen=0")
    )
    t.documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).select(
        "doc_id", "n_chars", "lang"
    ).write.parquet(os.path.join(base, "gen=1"))
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
        .select("doc_id", "n_chars", "lang")
    )


@query(
    "q_file_metadata",
    oracle="""
    SELECT 'events.parquet' AS table_name,
           count(*) AS n_rows,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    """,
    tags=("source", "lineage"),
)
def q_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-provenance projection via the hidden ``_metadata`` struct:
    every row knows which physical file it came from — the lineage
    primitive behind per-file quarantine (bad file → drop exactly its
    rows), incremental reprocessing, and audit queries, with zero cost
    when unreferenced (the column is populated from split metadata, not
    read from disk). The plan groups to PER-FILE stats (the lineage
    grain — one row per part file), then folds to table grain for the
    emitted contract: a single-file table and a directory-of-part-files
    table (benchdata's layout, 32 parts at sf1 — the r12 sweep caught
    the per-file emission diverging there) must check identically,
    and the oracle's view cannot see physical file names.
    """
    t = load(spark, sf_dir)
    per_file = (
        t.events.select(
            F.regexp_extract(F.col("_metadata.file_path"), "[^/]+$", 0).alias(
                "file_name"
            ),
            "event_id",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )
    return per_file.agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"),
    ).select(
        F.lit("events.parquet").alias("table_name"),
        "n_rows",
        "min_id",
        "max_id",
    )


@query(
    "q_scan_json_corrupt",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 10 != 0) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (WHERE doc_id % 10 = 0)  AS BIGINT) AS n_corrupt,
           CAST(sum(n_chars) FILTER (WHERE doc_id % 10 != 0) AS BIGINT)
             AS good_chars_total
    FROM documents WHERE doc_id < 100
    """,
    tags=("source", "json", "quality"),
)
def q_scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on JSON ingest: a feed where every 10th
    line is malformed, read in PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` — bad lines land in the quarantine
    column instead of failing the job or silently disappearing (the
    operational contract for ingesting third-party feeds at scale; the
    strict alternative, FAILFAST, is the right choice only when the
    producer is trusted). Emits good/corrupt counts plus a checksum over
    the parsed payloads; the oracle recomputes all three from the source
    table arithmetically."""
    t = load(spark, sf_dir)
    rows = (
        t.documents.filter(F.col("doc_id") < 100)
        .select("doc_id", "n_chars")
        .collect()
    )
    out_dir = tempfile.mkdtemp(prefix="json_corrupt_")
    path = os.path.join(out_dir, "feed.jsonl")
    with open(path, "w") as f:
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            if r["doc_id"] % 10 == 0:
                f.write('{"doc_id": %d, "n_chars": OOPS\n' % r["doc_id"])
            else:
                f.write(
                    '{"doc_id": %d, "n_chars": %d}\n'
                    % (r["doc_id"], r["n_chars"])
                )
    parsed = (
        spark.read.schema("doc_id bigint, n_chars bigint, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out_dir)
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars"))).alias(
            "good_chars_total"
        ),
    )


@query(
    "q_scan_text_roundtrip",
    oracle="""
    SELECT doc_id, text FROM documents WHERE doc_id < 100
    """,
    tags=("source", "text"),
)
def q_scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → line-delimited text files → read back via the ``text``
    source (one row per line, a single ``value`` column) and re-key by
    parsing the id prefix — the rawest corpus interchange format (a web
    crawl's WET files, log shipping, any line-oriented dump). The write
    embeds doc_id as a tab-separated prefix because the text format
    carries NO schema; the read path must reconstruct typed columns
    itself, which is exactly the parse-on-read contract this row
    exercises. Texts survive byte-for-byte (no newlines in the corpus;
    a production pipeline would escape them at write)."""
    t = load(spark, sf_dir)
    subset = t.documents.filter(F.col("doc_id") < 100).select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias(
            "value"
        )
    )
    out = os.path.join(tempfile.mkdtemp(prefix="text_roundtrip_"), "docs_txt")
    subset.coalesce(1).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    sep = F.instr(F.col("value"), "\t")
    return raw.select(
        F.substring(F.col("value"), F.lit(1), sep - 1)
        .cast("bigint")
        .alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("sink", "layout"),
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style date-partitioned sink + partition-pruned read-back: the
    canonical lake layout (README.md:41-42 suggests exactly this
    time-partitioning). Events write ``partitionBy(event_date)``; the
    read filters one week, and the filter must resolve at PLANNING time
    against directory names — zero data files outside the week are
    opened (the PartitionFilters line tests/test_partition_pruning.py
    pins on this layout). The aggregate then proves the partitioned
    round-trip is content-lossless against the unpartitioned oracle.

    At 100 TB, date-partition pruning is the first 100-1000× scan
    reducer every time-ranged query gets for free; this op is the sink
    half of that contract."""
    t = load(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="sink_part_"), "events_part")
    rows = t.events.withColumn("event_date", F.col("ts").cast("date"))
    rows.write.mode("overwrite").partitionBy("event_date").parquet(out)
    # Read back with the schema written: no footer-inference job, and an
    # empty day reads as zero rows.
    back = spark.read.schema(rows.schema).parquet(out).filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )
    return (
        back.groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_date", "event_type")
    )
