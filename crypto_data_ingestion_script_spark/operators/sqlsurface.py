"""Spark 4 SQL-surface operators: recursive CTEs, the VARIANT semi-
structured type, and correlated LATERAL subqueries — capabilities the
reference delegates wholesale to PostgreSQL ("ability to handle complex
queries", /root/reference/README.md:31) that a Spark-native engine must
speak itself.

Scale notes (100 TB design point):
- q_recursive_cte: each recursion level is one self-join against the
  previous frontier — Spark executes it as iterated joins with the
  frontier shrinking per level; depth is bounded by the key structure
  (log10 here), never data volume.
- q_variant: parse_json → VariantType keeps the binary-encoded document
  columnar (no string re-parse per extraction); variant_get is a
  projection, so shredded access pushes down and the scan never inflates
  to one row per JSON key.
- q_lateral: the correlated ORDER BY/LIMIT subquery decorrelates to a
  per-key window-rank — one shuffle on the correlation key, not a
  nested-loop over customers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT c_custkey, c_custkey AS root, 0 AS depth
      FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, a.root, a.depth + 1
      FROM customer c JOIN anc a ON c.c_custkey // 10 = a.c_custkey
      WHERE c.c_custkey >= 10
    )
    SELECT root, depth, count(*) AS n_members
    FROM anc GROUP BY root, depth
    """,
    tags=("sql", "recursive"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): decimal-digit hierarchy over custkeys
    (parent = key div 10) walked from the single-digit roots; per
    (root, depth) membership counts. Depth is log10(maxkey) levels of
    shrinking-frontier self-joins."""
    t = load(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey, c_custkey AS root, 0 AS depth
          FROM {customer} WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, a.root, a.depth + 1
          FROM {customer} c JOIN anc a ON c.c_custkey div 10 = a.c_custkey
          WHERE c.c_custkey >= 10
        )
        SELECT root, depth, count(*) AS n_members
        FROM anc GROUP BY root, depth
        """,
        customer=t.customer,
    )


@query(
    "q_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
    FROM events
    """,
    tags=("sql", "variant"),
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4): props parsed once into the binary
    variant encoding, fields extracted with typed variant_get — absent
    paths yield NULL, matching the JSON-string oracle. At rest a variant
    column shreds to parquet subcolumns, so typed extraction stays a
    pruned scan."""
    t = load(spark, sf_dir)
    v = F.parse_json("props")
    return t.events.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.variant_get(v, "$.missing", "bigint").alias("missing"),
    )


@query(
    "q_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
    """,
    tags=("sql", "subquery"),
)
def q_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-key ORDER BY/LIMIT (top-2
    orders per customer) — Catalyst decorrelates the limit to a window
    rank over o_custkey instead of a per-customer nested loop."""
    t = load(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {customer} c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        """,
        customer=t.customer,
        orders=t.orders,
    )


#: Range count for q_skyline's distributed sweep (matches ranking.py's
#: two-pass running-extrema shape).
SKYLINE_RANGES = 32


@query(
    "q_skyline_sweep",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ),
    sg AS (
      SELECT spend, max(last_order) AS md FROM cust GROUP BY spend
    ),
    rm AS (
      SELECT spend, md,
             max(md) OVER (ORDER BY spend DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS rme
      FROM sg
    ),
    frontier AS (
      SELECT spend, md FROM rm WHERE rme IS NULL OR md > rme
    )
    SELECT c.o_custkey, c.spend, c.last_order
    FROM cust c
    JOIN frontier f ON c.spend = f.spend AND c.last_order = f.md
    ORDER BY c.spend DESC, c.o_custkey
    """,
    tags=("sql", "window", "analytics"),
)
def q_skyline_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of customers over (total spend,
    last order date): a customer is on the frontier iff no other
    customer is >= on both dimensions and strictly better on one — the
    multi-criteria shortlist operator (best-value candidates, dominant
    suppliers, non-dominated configs) that SQL has no keyword for. q_skyline (relational.py) runs the
    same reduction at a CONTENT-bounded grain (p_size); this variant is
    the fact-grain form where the sweep grain GROWS with the data
    (distinct customer spends), so the running max itself must
    distribute.

    Scale shape — the 2-D skyline reduces to a running MAX sweep, and
    the sweep here is the DISTRIBUTED two-pass form (ranking.py's
    global_running_max shape, with an EXCLUSIVE local frame): customers
    collapse to distinct-spend grain (combinable), range-partition by
    spend descending, each range computes its local exclusive running
    max of last_order in parallel, and a broadcast 32-row exclusive
    prefix of per-range maxima closes the boundaries — NO bare
    Window.orderBy funnelling the customer table through one task (the
    q_watermark_lateness lesson, SCALE_r10). Dominance ties are exact:
    equal-spend customers fold through the per-spend max first, and a
    frontier row must STRICTLY beat the running max of strictly-higher
    spends."""
    t = load(spark, sf_dir)
    from pyspark.sql import Window

    cust = t.orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
        F.max("o_orderdate").alias("last_order"),
    )
    sg = cust.groupBy("spend").agg(F.max("last_order").alias("md"))
    ranged = (
        sg.withColumn("neg_s", -F.col("spend"))
        .repartitionByRange(SKYLINE_RANGES, "neg_s")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local_excl = (
        Window.partitionBy("_pid")
        .orderBy("neg_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_lmax", F.max("md").over(w_local_excl))
    totals = ranged.groupBy("_pid").agg(F.max("md").alias("_t"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_pid", F.max("_t").over(w_off).alias("_off")
    )
    frontier = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "_rme",
            F.when(
                F.col("_off").isNotNull() & F.col("_lmax").isNotNull(),
                F.greatest("_off", "_lmax"),
            ).otherwise(F.coalesce("_off", "_lmax")),
        )
        .filter(F.col("_rme").isNull() | (F.col("md") > F.col("_rme")))
        .select("spend", "md")
    )
    return (
        cust.alias("c")
        .join(
            frontier.alias("f"),
            (F.col("c.spend") == F.col("f.spend"))
            & (F.col("c.last_order") == F.col("f.md")),
        )
        .select(
            "o_custkey", F.col("c.spend").alias("spend"), "last_order"
        )
        .orderBy(F.col("spend").desc(), "o_custkey")
    )
