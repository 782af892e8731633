"""Multi-dimensional data layout: z-order (Morton) clustering for the lake
(SURVEY §2.A sinks; OPTIMIZE ZORDER analog from stock Spark ops).

A date-partitioned table clusters one dimension; any predicate on a second
dimension reads every file. Interleaving the bits of two (or more) quantized
columns into a single sort key gives every dimension ~sqrt locality: a box
predicate on d dims touches ~N^(1-1/d) of N files instead of all of them —
at 100 TB that is the difference between a 10-file and a 10,000-file scan
for point-ish lookups on the non-partition dimension. File-level min/max
stats (parquet footers) then prune untouched files for free.

Everything is JVM-side expression work: the interleave is a fold of
shift/and/or column expressions (whole-stage-codegen-able), the placement is
``repartitionByRange`` + ``sortWithinPartitions`` on the z key — no UDF, no
driver loop. tests/test_layout.py measures the actual pruning win against a
single-dimension sort with pyarrow footer stats.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

#: Bits per dimension: 2 dims × 16 bits = 32-bit z key, plenty for file-level
#: clustering (file count ≪ 2^16 per partition in any sane layout).
BITS = 16


def interleave_bits(x: Column, y: Column, bits: int = BITS) -> Column:
    """Morton-interleave two non-negative int columns: bit i of ``x`` lands
    at position 2i, bit i of ``y`` at 2i+1. Pure column expressions — the
    whole key compiles into one codegen stage."""
    # Work in BIGINT: bit position 2*bits-1 = 31 would land on the Int32
    # sign bit and flip the top quadrant's ordering negative.
    pairs = [
        F.shiftleft(
            F.shiftrightunsigned(c.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i + off,
        )
        for i in range(bits)
        for off, c in ((0, x), (1, y))
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), pairs).alias("_z")


def quantize(col: Column, lo: Column, hi: Column, bits: int = BITS) -> Column:
    """Scale a numeric column onto the [0, 2^bits) integer grid given its
    (broadcast) min/max — rank-free quantization, one pass."""
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (col.cast("double") - lo) / span
    return F.least(
        F.lit((1 << bits) - 1),
        F.greatest(F.lit(0), F.floor(frac * ((1 << bits) - 1)).cast("int")),
    )


def zorder_write(
    df: DataFrame, dims: tuple[str, str], path: str, n_files: int
) -> None:
    """Write ``df`` clustered on the z-curve over two dimension columns:
    quantize each dim against its global min/max (one tiny aggregate,
    broadcast back), range-partition on the z key so each output file owns
    a contiguous z range, sort within files so parquet row-group stats are
    tight, then drop the helper key before writing."""
    dx, dy = dims
    bounds = df.agg(
        F.min(dx).alias("_lox"), F.max(dx).alias("_hix"),
        F.min(dy).alias("_loy"), F.max(dy).alias("_hiy"),
    )
    keyed = (
        df.join(F.broadcast(bounds))
        .withColumn(
            "_z",
            interleave_bits(
                quantize(F.col(dx), F.col("_lox"), F.col("_hix")),
                quantize(F.col(dy), F.col("_loy"), F.col("_hiy")),
            ),
        )
        .drop("_lox", "_hix", "_loy", "_hiy")
    )
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "q_zorder",
    oracle="""
    SELECT event_id, user_id, value FROM events
    """,
    tags=("layout", "sink"),
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite of events on (user_id, value): the layout op must be
    content-lossless — the oracle checks the rewritten table IS the source
    projection; the pruning win is asserted separately in
    tests/test_layout.py with parquet footer stats."""
    import tempfile

    t = load(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="zorder_") + "/events_z"
    src = t.events.select("event_id", "user_id", "value")
    zorder_write(src, ("user_id", "value"), out, n_files=16)
    return spark.read.parquet(out)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_totalprice > 150000
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    tags=("layout", "join"),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED tables: both sides are written
    ``bucketBy(8, join_key).sortBy(join_key)`` so the join runs with no
    Exchange and no Sort on either side — the shuffle is paid once at
    write time and amortized over every subsequent join on that key. At
    100 TB this is the difference between re-shuffling 100 TB per query
    and a local merge per bucket pair. tests/test_bucketing.py asserts the
    no-Exchange plan property; this query asserts the RESULT is identical
    to the plain join (the oracle joins the raw parquet).

    The write repartitions each side by the join key first so every bucket
    is a single file (otherwise each of the N writing tasks emits its own
    fragment per bucket -> N*8 small files, and the reader must merge-sort
    fragments to keep the per-bucket sort guarantee).
    """
    import os
    import re

    from pyspark import SparkFiles

    t = load(spark, sf_dir)
    tag = re.sub(r"\W", "_", sf_dir).strip("_")
    db = "bucketed_q_" + tag
    # External-path tables under the application's own scratch dir (Spark
    # deletes it when the application stops): a stale warehouse dir from
    # a previous session would make managed-table creation fail with
    # LOCATION_ALREADY_EXISTS, and a path shared by every process on the
    # host lets one process overwrite the part files another is reading.
    base = os.path.join(SparkFiles.getRootDirectory(), "bucketed_q", tag)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name, df, key in (
        ("orders_b", t.orders, "o_orderkey"),
        ("lineitem_b", t.lineitem, "l_orderkey"),
    ):
        if not spark.catalog.tableExists(f"{db}.{name}"):
            (
                df.repartition(8, key)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(base, name))
                .mode("overwrite")
                .saveAsTable(f"{db}.{name}")
            )
    o = spark.table(f"{db}.orders_b").filter(F.col("o_totalprice") > 150000)
    l = spark.table(f"{db}.lineitem_b")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


#: Hilbert-curve bits per dimension (grid 2^8 × 2^8, 16-bit key): 8
#: rotate/reflect iterations keep both engines' unrolled expressions small.
HILBERT_BITS = 8


def _hilbert_oracle() -> str:
    """Unroll the classic xy2d loop (Wikipedia 'Hilbert curve' convert
    routine) into chained CTEs — one per s = 2^(bits-1) .. 1."""
    steps = []
    prev = "q"
    for i, s in enumerate(1 << b for b in range(HILBERT_BITS - 1, -1, -1)):
        steps.append(f"""
    it{i} AS (
      SELECT event_id,
             d + {s * s} * xor(3 * rx, ry) AS d,
             CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - y
                  WHEN ry = 0 THEN y ELSE x END AS x,
             CASE WHEN ry = 0 AND rx = 1 THEN {s} - 1 - x
                  WHEN ry = 0 THEN x ELSE y END AS y
      FROM (SELECT event_id, d, x, y,
                   CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
            FROM {prev})
    )""")
        prev = f"it{i}"
    chain = ",".join(steps)
    return f"""
    WITH b AS (
      SELECT min(user_id) AS lox, max(user_id) AS hix,
             min(value) AS loy, max(value) AS hiy
      FROM events
    ),
    q AS (
      SELECT event_id, 0 AS d,
             least({(1 << HILBERT_BITS) - 1}, greatest(0, CAST(floor(
               (user_id - lox) / CASE WHEN hix > lox THEN hix - lox
                                      ELSE 1.0 END
               * {(1 << HILBERT_BITS) - 1}) AS INTEGER))) AS x,
             least({(1 << HILBERT_BITS) - 1}, greatest(0, CAST(floor(
               (value - loy) / CASE WHEN hiy > loy THEN hiy - loy
                                    ELSE 1.0 END
               * {(1 << HILBERT_BITS) - 1}) AS INTEGER))) AS y
      FROM events CROSS JOIN b
    ),{chain}
    SELECT CAST(d // 1024 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(d) AS BIGINT) AS min_h,
           CAST(max(d) AS BIGINT) AS max_h
    FROM {prev} GROUP BY 1 ORDER BY 1
    """


@query(
    "q_hilbert",
    oracle=_hilbert_oracle(),
    tags=("layout",),
)
def q_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (user_id, value) — the
    strictly-better sibling of q_zorder's Morton key: the Hilbert curve
    never jumps (consecutive keys are always grid neighbors), so box
    queries touch ~25-50% fewer files than z-order at the same bits
    (Morton's quadrant seams put adjacent cells at distant key ranges;
    Delta/Databricks moved OPTIMIZE to Hilbert for exactly this).

    The xy2d rotate/reflect recursion unrolls into {HILBERT_BITS}
    chained (rx, ry, reflect, swap) column-expression steps — pure
    integer bit arithmetic, no UDF, whole-stage-codegen'd end to end;
    the oracle unrolls the identical loop as CTEs. Output verifies the
    full key distribution at 64-bucket grain (count + exact min/max key
    per bucket). Placement at scale reuses zorder_write's
    repartitionByRange+sortWithinPartitions on this key unchanged."""
    t = load(spark, sf_dir)
    mx = (1 << HILBERT_BITS) - 1
    b = t.events.agg(
        F.min("user_id").alias("lox"), F.max("user_id").alias("hix"),
        F.min("value").alias("loy"), F.max("value").alias("hiy"),
    )
    x = quantize(F.col("user_id"), F.col("lox"), F.col("hix"), HILBERT_BITS)
    y = quantize(F.col("value"), F.col("loy"), F.col("hiy"), HILBERT_BITS)
    cur = t.events.join(F.broadcast(b)).select(
        "event_id", F.lit(0).alias("d"), x.alias("x"), y.alias("y")
    )
    for s in (1 << i for i in range(HILBERT_BITS - 1, -1, -1)):
        rx = F.when(F.col("x").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("y").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        stepped = cur.select(
            "event_id",
            (F.col("d") + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry))
            .alias("d"),
            "x",
            "y",
            rx.alias("rx"),
            ry.alias("ry"),
        )
        cur = stepped.select(
            "event_id",
            "d",
            F.when(
                (F.col("ry") == 0) & (F.col("rx") == 1),
                F.lit(s - 1) - F.col("y"),
            )
            .when(F.col("ry") == 0, F.col("y"))
            .otherwise(F.col("x"))
            .alias("x"),
            F.when(
                (F.col("ry") == 0) & (F.col("rx") == 1),
                F.lit(s - 1) - F.col("x"),
            )
            .when(F.col("ry") == 0, F.col("x"))
            .otherwise(F.col("y"))
            .alias("y"),
        )
    return (
        cur.select(
            F.floor(F.col("d") / 1024).cast("bigint").alias("bucket"),
            "d",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("d").cast("bigint").alias("min_h"),
            F.max("d").cast("bigint").alias("max_h"),
        )
        .orderBy("bucket")
    )


#: Compaction bin target in bytes (toy scale; production uses 128-1024 MiB).
COMPACT_TARGET = 1500


@query(
    "q_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, doc_id % 7 AS file_id,
             CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source, doc_id % 7
    ),
    planned AS (
      SELECT source, file_id, bytes,
             CAST(coalesce(sum(bytes) OVER (PARTITION BY source
                     ORDER BY file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) // {COMPACT_TARGET} AS BIGINT) AS bin
      FROM files
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
    FROM planned GROUP BY source, bin ORDER BY source, bin
    """,
    tags=("layout", "planning"),
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE bin-packing step):
    given a per-partition file-size inventory (derived here from the
    documents table at (source, file) grain so the plan is
    engine-checkable), assign contiguous files to output bins by
    cumulative-offset binning — bin = floor(prefix_bytes / target) —
    Delta-style planning that turns N small files into ~total/target
    right-sized writes. The plan is the QUERY; q_compact executes the
    rewrite it implies.

    Shape: file inventory is metadata-scale (one groupBy); binning is an
    exclusive-prefix sum over a partition-keyed window at FILE grain
    (thousands of rows per partition at worst — planning never touches
    data bytes). At 100 TB the same plan runs over the transaction log's
    file listing, not a table scan."""
    t = load(spark, sf_dir)
    from pyspark.sql import Window

    files = t.documents.groupBy(
        "source", (F.col("doc_id") % 7).alias("file_id")
    ).agg(F.sum("n_chars").cast("bigint").alias("bytes"))
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "source",
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0))
            / COMPACT_TARGET
        )
        .cast("bigint")
        .alias("bin"),
    )
    return (
        planned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
        )
        .orderBy("source", "bin")
    )
