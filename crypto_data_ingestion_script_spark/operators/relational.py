"""Projection / filter / cast (SURVEY §2.B), sorts & top-k (§2.H), and set
operations (§2.I).

The reference's only relational ops are a projection of the API response
(/root/reference/dataCollector.py:110-114), a string→double cast (:105), and
row-level error tolerance (failed rows skipped, :115-116). Everything else
here is the query surface its README delegates to PostgreSQL
(/root/reference/README.md:31,41-42), expressed declaratively so Catalyst
pushes filters/projections into the parquet scan — at 100 TB the scan reads
only referenced columns and skips row groups via min/max stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

# --- B. Projection / filter / cast -----------------------------------------


@query(
    "q_project",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
    tags=("projection",),
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning: only 3 of 6 event columns reach the scan
    (ReadSchema shows the pruned projection)."""
    t = load(spark, sf_dir)
    return t.events.select("event_id", "event_type", "value")


@query(
    "q_cast",
    oracle="""
    SELECT event_id,
           CAST(event_id AS DOUBLE)                    AS id_dbl,
           CAST(CAST(value AS FLOAT) AS DOUBLE)        AS value_f32,
           CAST(CAST(value AS VARCHAR) AS DOUBLE)      AS value_roundtrip
    FROM events
    """,
    tags=("cast",),
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric cast chains — the reference's ``float(data['price'])``
    (dataCollector.py:105) generalized; float32 narrowing is IEEE-identical
    across engines."""
    t = load(spark, sf_dir)
    return t.events.select(
        "event_id",
        F.col("event_id").cast("double").alias("id_dbl"),
        F.col("value").cast("float").cast("double").alias("value_f32"),
        F.col("value").cast("string").cast("double").alias("value_roundtrip"),
    )


@query(
    "q_filter_nulls",
    oracle="""
    SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
    """,
    tags=("filter",),
)
def q_filter_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level error tolerance: permissive parse (try_cast → NULL) then
    drop failed rows — the Spark analog of the reference's fetch-error skip
    (dataCollector.py:115-116)."""
    t = load(spark, sf_dir)
    parsed = t.events.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') as double)").alias("k_val"),
    )
    return parsed.filter(F.col("k_val").isNotNull())


@query(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_linestatus LIKE 'F%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_discount <> 0.0
    """,
    tags=("filter",),
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison / IN / BETWEEN / LIKE predicate stack; all five predicates
    appear in PushedFilters at the parquet scan."""
    t = load(spark, sf_dir)
    return t.lineitem.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") != 0.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


# --- H. Sorts / limits / top-k ---------------------------------------------


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort",),
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heaps
    + driver merge of k rows, no global sort at any scale. Tie-broken on the
    key for determinism."""
    t = load(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q_sort",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    tags=("sort",),
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned sample sort (global orderBy); validated via limit
    because the oracle hash is order-insensitive (SURVEY §2.H)."""
    t = load(spark, sf_dir)
    return (
        t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(100)
    )


@query(
    "q_sort_within_partitions",
    oracle="SELECT count(*) AS n_rows, TRUE AS all_sorted FROM lineitem",
    tags=("sort",),
)
def q_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local sort (no global Exchange): the layout op behind
    sorted-parquet writes and merge-friendly downstream reads. Layout is
    not value-visible, so the driver-checkable output verifies the
    post-conditions: total row count preserved (exact, oracled) and every
    partition physically sorted — checked by tagging rows with
    spark_partition_id + monotonically_increasing_id AFTER the sort
    (monotonic ids follow physical row order within a partition) and
    asserting the sort keys are non-decreasing along that order."""
    t = load(spark, sf_dir)
    sorted_df = (
        t.lineitem.select("l_orderkey", "l_linenumber", "l_shipdate")
        .repartition(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
    )
    marked = sorted_df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("_pid").orderBy("_mid")
    prev_ok = F.lag("l_orderkey").over(w)
    prev_ln = F.lag("l_linenumber").over(w)
    in_order = (
        prev_ok.isNull()
        | (prev_ok < F.col("l_orderkey"))
        | (
            (prev_ok == F.col("l_orderkey"))
            & (prev_ln <= F.col("l_linenumber"))
        )
    )
    return marked.select(in_order.alias("_ok")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.bool_and("_ok"), F.lit(True)).alias("all_sorted"),
    )


# --- I. Set operations ------------------------------------------------------


@query(
    "q_union",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    tags=("setop",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL via unionByName — no shuffle, pure concatenation of
    partitions."""
    t = load(spark, sf_dir)
    c = t.customer.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = t.supplier.select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s)


@query(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


# --- Reshaping: pivot / unpivot / sampling ----------------------------------


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
           sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("reshape",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): one pass, conditional aggregation per pivot
    value — values are declared explicitly so the plan needs no extra
    distinct-scan to discover them (the 100 TB discipline: never let pivot
    infer its columns from data)."""
    t = load(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_quantity")
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, kind, amount
    FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
          FROM lineitem WHERE l_orderkey < 100)
    UNPIVOT (amount FOR kind IN (l_extendedprice, l_discount, l_tax))
    """,
    tags=("reshape",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): melt three measure columns into (kind,
    amount) rows — an Expand node, one input pass, no shuffle."""
    t = load(spark, sf_dir)
    return t.lineitem.filter(F.col("l_orderkey") < 100).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="kind",
        valueColumnName="amount",
    )


@query(
    "q_sample",
    oracle="""
    SELECT l_returnflag, count(*) AS n_total, TRUE AS frac_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("reshape", "approx"),
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sample (fraction 0.1, fixed seed) — per-partition,
    scan-time, no shuffle. The sampled row-set is engine/partitioning
    specific, so the driver-checkable output is the statistical contract:
    per stratum, the exact population count plus a verdict that the
    achieved sampling rate sits within max(0.05, 2/√n) of the declared
    fraction — the count-aware widening keeps the bound ≥6 binomial
    standard deviations (sd of the rate estimate is ~0.3/√n) even for
    tiny strata, so a correct sampler passes under ANY partitioning or
    testdata regeneration (oracle states TRUE). A broken sampler — wrong
    rate, constant output, fraction ignored — still flips the verdict."""
    t = load(spark, sf_dir)
    total = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    sampled = (
        t.lineitem.sample(fraction=0.1, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("_n_sampled"))
    )
    return total.join(sampled, "l_returnflag", "left").select(
        "l_returnflag",
        "n_total",
        (
            F.abs(
                F.coalesce(F.col("_n_sampled"), F.lit(0))
                / F.col("n_total")
                - 0.1
            )
            <= F.greatest(F.lit(0.05), F.lit(2.0) / F.sqrt("n_total"))
        ).alias("frac_within_tol"),
    )


# --- Null handling ----------------------------------------------------------


@query(
    "q_fillna",
    oracle="""
    SELECT event_id,
           coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), -1.0)
             AS k_filled,
           CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
                  IS NULL THEN 1 ELSE 0 END AS was_null
    FROM events
    """,
    tags=("nulls",),
)
def q_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillna / coalesce: sentinel-fill a sparsely-populated parsed column
    plus a null-indicator — the imputation shape of feature pipelines."""
    t = load(spark, sf_dir)
    parsed = t.events.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') as double)").alias("k_val"),
    )
    return parsed.select(
        "event_id",
        F.coalesce(F.col("k_val"), F.lit(-1.0)).alias("k_filled"),
        F.when(F.col("k_val").isNull(), 1).otherwise(0).alias("was_null"),
    )


@query(
    "q_dropna",
    oracle="""
    SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val,
           value
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL
      AND value IS NOT NULL
    """,
    tags=("nulls",),
)
def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropna(how='any') over a projected column set — null predicates
    reach the scan for stored columns."""
    t = load(spark, sf_dir)
    parsed = t.events.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') as double)").alias("k_val"),
        "value",
    )
    return parsed.na.drop(how="any", subset=["k_val", "value"])


# --- Subqueries -------------------------------------------------------------


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
    tags=("subquery",),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: the inner aggregate computes once and
    broadcasts as a literal into the outer filter (Catalyst plans a
    ReusedSubquery/scalar-subquery node, not a join)."""
    t = load(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM {orders})
        """,
        orders=t.orders,
    )


@query(
    "q_exists_correlated",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    tags=("subquery",),
)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: Catalyst rewrites it to a left-semi join on the
    correlation key — same plan family as q_join_semi, declared through the
    SQL surface the reference's README promises."""
    t = load(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """,
        customer=t.customer,
        orders=t.orders,
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT l_returnflag, count(*) AS n_total,
           CASE l_returnflag WHEN 'A' THEN 0.5 WHEN 'R' THEN 0.1
                             ELSE 0.05 END AS target_frac,
           TRUE AS frac_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("reshape", "approx"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): per-stratum Bernoulli fractions with
    a fixed seed — rebalancing skewed classes without a shuffle (scan-time
    filter per stratum). Driver-checkable form mirrors q_sample: exact
    population count per stratum, the declared per-stratum target
    fraction, and a verdict that the achieved rate lands within
    max(0.04, 40% of target) of it under any partitioning."""
    t = load(spark, sf_dir)
    fractions = {"A": 0.5, "R": 0.1, "N": 0.05}
    target = (
        F.when(F.col("l_returnflag") == "A", 0.5)
        .when(F.col("l_returnflag") == "R", 0.1)
        .otherwise(0.05)
    )
    total = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    sampled = (
        t.lineitem.sampleBy("l_returnflag", fractions, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("_n_sampled"))
    )
    return total.join(sampled, "l_returnflag", "left").select(
        "l_returnflag",
        "n_total",
        target.alias("target_frac"),
        (
            F.abs(
                F.coalesce(F.col("_n_sampled"), F.lit(0))
                / F.col("n_total")
                - target
            )
            <= F.greatest(F.lit(0.04), target * 0.4)
        ).alias("frac_within_tol"),
    )


@query(
    "q_union_by_name",
    oracle="""
    (SELECT event_id, event_type, value FROM events WHERE value > 100)
    UNION ALL BY NAME
    (SELECT value, event_id FROM events WHERE value <= 100)
    """,
    tags=("setop",),
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned union: unionByName(allowMissingColumns) matches
    columns positionally-independently and null-fills the gap — the safe
    way to append heterogeneous extracts (positional UNION would silently
    misalign)."""
    t = load(spark, sf_dir)
    wide = t.events.filter(F.col("value") > 100).select(
        "event_id", "event_type", "value"
    )
    narrow = t.events.filter(F.col("value") <= 100).select("value", "event_id")
    return wide.unionByName(narrow, allowMissingColumns=True)


@query(
    "q_explode_outer",
    oracle="""
    WITH src AS (
      SELECT event_id,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                  THEN [CAST(json_extract_string(props, '$.k') AS BIGINT),
                        CAST(json_extract_string(props, '$.k') AS BIGINT) * 2]
             END AS arr
      FROM events
    )
    SELECT event_id, unnest(arr) AS k_val FROM src WHERE arr IS NOT NULL
    UNION ALL
    SELECT event_id, NULL AS k_val FROM src WHERE arr IS NULL
    """,
    tags=("generator",),
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: generator rows for non-null arrays, a null row for
    null input — parent rows are never dropped (plain explode's silent
    row loss is the bug this variant exists for). The oracle spells the
    outer semantics out as a two-branch union."""
    t = load(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    arr = F.when(k > 50, F.array(k, k * 2))
    return t.events.select(
        "event_id", F.explode_outer(arr).alias("k_val")
    )


@query(
    "q_skyline",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
        AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice)
    )
    ORDER BY p_size, p_partkey
    """,
    tags=("relational", "skyline"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier): parts not dominated on (size max,
    retailprice min). The textbook formulation is the quadratic NOT EXISTS
    self-join the oracle runs — O(n^2) comparisons, a non-starter at 100 TB.
    The Spark plan exploits the 2-D structure instead: aggregate to one
    (size, min_price) row per distinct size (tiny — map-side partial
    aggregation does almost all the work), compute the prefix-min price
    over strictly larger sizes on that tiny table, and broadcast-join it
    back. A row survives iff it is the cheapest at its own size AND
    strictly cheaper than everything bigger. One cheap shuffle on p_size,
    one broadcast — linear scan cost, no self-join of the fact table.
    """
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    by_size = (
        t.part.groupBy("p_size").agg(F.min("p_retailprice").alias("best_here"))
    )
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    frontier = by_size.withColumn("best_above", F.min("best_here").over(w))
    return (
        t.part.join(F.broadcast(frontier), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("best_here"))
            & (
                F.col("best_above").isNull()
                | (F.col("p_retailprice") < F.col("best_above"))
            )
        )
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
        .orderBy("p_size", "p_partkey")
    )


@query(
    "q_set_ops_all",
    oracle="""
    SELECT nationkey, count(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey FROM supplier
    ) GROUP BY nationkey
    ORDER BY nationkey
    """,
    tags=("setop",),
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops: INTERSECT ALL keeps min(multiplicity) per
    side — the q_intersect twin that does NOT collapse duplicates, which
    is the semantics reconciliation jobs actually need ('how many rows
    agree', not 'which keys agree'). Spark's intersectAll compiles to a
    count-compare aggregation, not a distinct + semi-join; the follow-up
    groupBy makes the multiplicities visible and the output compact.
    """
    t = load(spark, sf_dir)
    return (
        t.customer.select(F.col("c_nationkey").alias("nationkey"))
        .intersectAll(t.supplier.select(F.col("s_nationkey").alias("nationkey")))
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey")
    )


@query(
    "q_group_by_all",
    oracle="""
    SELECT event_type, date_trunc('day', ts) AS day,
           count(*) AS n, round(sum(value), 6) AS total
    FROM events
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("sqlsurface", "agg"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (SQL surface both Spark 4 and DuckDB
    share): every non-aggregate select item becomes a grouping key — the
    ergonomic form analysts actually write; the engine must resolve it to
    the same plan as the explicit key list. Registered via spark.sql to
    exercise the parser path, not the DataFrame builder.
    """
    t = load(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, date_trunc('day', ts) AS day,
               count(*) AS n, round(sum(value), 6) AS total
        FROM {events}
        GROUP BY ALL
        ORDER BY ALL
        """,
        events=t.events,
    )
