"""Composite analytical queries (TPC-H Q1/Q3/Q5 adapted to the driver's
TPC-H-lite star schema) — the proof that the operator surface composes:
multi-way joins + filters + aggregation + sort/top-k in single declarative
plans, the workload shape the reference's README delegates to PostgreSQL
("ability to handle complex queries", /root/reference/README.md:31).

Adaptations to the driver schema (TESTDATA.md): no l_commitdate /
l_receiptdate / o_shippriority columns, dates span 1995–2001; filter
constants chosen for meaningful selectivity on that range.

Scale notes per query:
- Q1: single-shuffle grouped aggregation after a pushed scan filter —
  identical plan family to the flagship OHLC rollup.
- Q3: customer (filtered on segment) broadcasts into orders; the resulting
  (orders⋈customer) product is the planner-chosen broadcast side against
  streaming lineitem — size-estimate-driven, so it falls back to a shuffle
  join past the threshold; top-10 via TakeOrderedAndProject, never a
  global sort.
- Q5: five-way join; region/nation/supplier broadcast (dims), the
  customer-supplier same-nation condition rides the supplier broadcast —
  only orders⋈lineitem shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import MONEY, davg, dsum, sql_davg, sql_dsum
from ..registry import query


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                       AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_charge,
           (CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity)) AS avg_qty,
           (CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice)) AS avg_price,
           (CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount)) AS avg_disc,
           count(*)                                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan-filter (pushed) + one grouped agg."""
    t = load(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.filter(
            F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority (adapted: no o_shippriority column):
    broadcast filtered customers, shuffle-join lineitem, top-10 revenue."""
    t = load(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    c = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = t.orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = t.lineitem.filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # Fact on the left, filtered dim-side on the right. The dim side gets a
    # SHUFFLE_HASH hint, not a broadcast: when (orders⋈customer) fits the
    # broadcast threshold the planner still upgrades to BHJ on its own, and
    # when it doesn't, the hint replaces the default sort-merge join with a
    # shuffled hash join — same exchanges, but neither multi-hundred-MB sort
    # runs (measured 0.61→0.44 s at sf0.1, 0.96→0.79 s at sf1; a pre-agg
    # push-below-join variant was slower at both scales — the extra
    # aggregation exchange costs more than the smaller probe side saves).
    # Hash-build is on the dim side per partition, so no driver collect and
    # no OOM path at scale.
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).hint("shuffle_hash")
    return (
        l.join(oc, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    tags=("tpch", "join"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: five-way join, all dims broadcast;
    only the orders⋈lineitem edge shuffles."""
    t = load(spark, sf_dir)
    asia_nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            t.nation.n_regionkey == t.region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    s = t.supplier.join(
        F.broadcast(asia_nations),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    joined = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: pure scan-filter-agg — every
    predicate reaches the parquet scan (PushedFilters), zero joins, one
    partial/final agg with no grouping (single-row shuffle)."""
    t = load(spark, sf_dir)
    return t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.03, 0.05)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    tags=("tpch", "join"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: group-having as a semi-join
    filter, then a three-way join and top-100. The having-filter aggregates
    lineitem once (single shuffle on l_orderkey) and the survivor set —
    tiny by construction — broadcasts back against orders."""
    t = load(spark, sf_dir)
    big_orders = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 200)
        .select(F.col("l_orderkey").alias("_bigkey"))
    )
    o = t.orders.join(
        F.broadcast(big_orders), t.orders.o_orderkey == F.col("_bigkey")
    ).drop("_bigkey")
    joined = o.join(
        F.broadcast(t.customer.select("c_custkey", "c_name")),
        o.o_custkey == F.col("c_custkey"),
    ).join(
        t.lineitem.select("l_orderkey", "l_quantity"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        joined.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey
      AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    tags=("tpch", "join"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between a nation pair: the nation filter is
    pushed INTO the broadcast dims (each nation side pre-filtered to the
    pair), so supplier/nation ride broadcasts and only orders⋈lineitem and
    customer⋈orders shuffle — the two unavoidable fact-side exchanges."""
    t = load(spark, sf_dir)
    pair = ("NATION_1", "NATION_2")
    n1 = t.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("_s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("_c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    sup = t.supplier.join(F.broadcast(n1), F.col("s_nationkey") == F.col("_s_nk"))
    cust = t.customer.join(F.broadcast(n2), F.col("c_nationkey") == F.col("_c_nk"))
    return (
        li.join(t.orders, li.l_orderkey == t.orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item ranking: both fact filters (order-date
    quarter, returnflag='R') are pushed to the scans; nation broadcasts;
    top-20 runs as TakeOrderedAndProject, never a global sort."""
    t = load(spark, sf_dir)
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t.lineitem.filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT 100.00 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
                  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    tags=("tpch", "join"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo revenue share: one month of lineitem (pushed scan
    filter) ⋈ broadcast part, collapsed to a single conditional-agg row —
    zero shuffles beyond the broadcast when AQE coalesces the final agg."""
    t = load(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(
            F.broadcast(t.part.select("p_partkey", "p_type")),
            li.l_partkey == F.col("p_partkey"),
        )
        .agg(
            (F.lit(100.0) * dsum(promo) / dsum(disc_price)).alias(
                "promo_revenue"
            )
        )
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30))
    """,
    tags=("tpch", "join"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 disjunctive predicate pushdown: Catalyst derives the
    cross-branch envelopes (l_quantity ∈ [1,30] onto the lineitem scan,
    brand/size union onto the broadcast part scan) from the OR-of-ANDs, so
    both scans prune before the join evaluates the exact disjunction."""
    t = load(spark, sf_dir)
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
            t.lineitem.l_partkey == F.col("p_partkey"),
        )
        .filter(branch)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "q_tpch_q2",
    oracle="""
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, supplier, lineitem, nation
    WHERE p_partkey = l_partkey
      AND s_suppkey = l_suppkey
      AND p_size = 15
      AND s_nationkey = n_nationkey
      AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                             FROM lineitem l2
                             WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "join", "subquery"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier per part; lineitem stands in
    for the absent partsupp): the correlated MIN subquery is expressed as a
    window-min over l_partkey — ONE shuffle computes the per-part minimum
    and keeps the qualifying rows, where the naive agg-then-self-join
    formulation would shuffle lineitem twice."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("l_partkey")
    cheapest = (
        t.lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .withColumn("_minp", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("_minp"))
    )
    return (
        cheapest.join(
            F.broadcast(t.part.filter(F.col("p_size") == 15)),
            cheapest.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(t.supplier), cheapest.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .distinct()
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "join", "subquery"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (adapted: returnflag='R' stands in
    for the absent commit/receipt dates): the EXISTS is a LEFT SEMI join —
    lineitem deduplicates inside the join, no distinct pass, and the
    priority rollup is bounded at 5 groups."""
    t = load(spark, sf_dir)
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    flagged = t.lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(flagged, o.o_orderkey == flagged.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
    tags=("tpch", "join"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-mode priority (adapted: l_linestatus stands in
    for the absent l_shipmode): year-filtered lineitem joins orders on the
    key, split-counted by priority class — one join shuffle, two
    conditional sums, two result rows."""
    t = load(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t.orders, li.l_orderkey == t.orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    """,
    tags=("tpch", "subquery"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the quarter's per-supplier revenue CTE is
    computed ONCE and reused for both the max (scalar subquery) and the
    equality probe — Catalyst's subquery reuse keeps it one aggregation
    of lineitem, and the supplier join rides a broadcast of the
    (max-revenue) survivors."""
    t = load(spark, sf_dir)
    revenue = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_rev"
            )
        )
    )
    top = revenue.agg(F.max("total_rev").alias("_max_rev"))
    best = revenue.join(
        F.broadcast(top), revenue.total_rev == F.col("_max_rev")
    ).drop("_max_rev")
    return t.supplier.join(
        F.broadcast(best), t.supplier.s_suppkey == best.l_suppkey
    ).select("s_suppkey", "s_name", "total_rev")


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-count per part profile (lineitem stands in for
    the absent partsupp): broadcast the filtered part dim into lineitem,
    then a distinct count per (brand, type, size) — Spark expands
    count(DISTINCT) into a two-phase partial-distinct aggregation, so the
    dedup happens map-side before the group shuffle."""
    t = load(spark, sf_dir)
    p = t.part.filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        t.lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "subquery"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the correlated per-part AVG
    becomes a window average over l_partkey — the whole query is one
    shuffle of lineitem plus a broadcast part filter, where the textbook
    plan re-aggregates lineitem and self-joins."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("l_partkey")
    li = t.lineitem.select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).withColumn("_avg_qty", F.avg("l_quantity").over(w))
    return (
        li.join(
            F.broadcast(
                t.part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
            ),
            li.l_partkey == F.col("p_partkey"),
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT c_nationkey, count(*) AS numcust, CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT (CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(c_acctbal)) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
    tags=("tpch", "subquery"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity (adapted: nationkey stands in
    for the absent phone country code): above-average-balance customers
    with no orders since 2000 (dormant accounts) — an uncorrelated scalar
    threshold plus a LEFT ANTI join against the recent-order keys, grouped
    per nation. The recency filter pushes to the orders scan before the
    anti-join."""
    t = load(spark, sf_dir)
    avg_bal = (
        t.customer.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal").alias("_avg"))
    )
    rich = t.customer.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg")
    )
    recent = t.orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    no_orders = rich.join(
        recent, rich.c_custkey == F.col("o_custkey"), "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum("c_acctbal").alias("totacctbal"),
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
    FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
         region
    WHERE p_partkey = l_partkey
      AND s_suppkey = l_suppkey
      AND l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND c_nationkey = n1.n_nationkey
      AND n1.n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND s_nationkey = n2.n_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND p_type = 'PROMO'
    GROUP BY 1
    """,
    tags=("tpch", "join"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: the deepest join tree in the suite
    (8 relations). Every dimension edge — part (type-filtered), supplier,
    both nation roles, region — rides a broadcast; the only shuffles are
    the two fact edges (lineitem⋈orders, orders⋈customer), and the final
    per-year share is a two-branch conditional sum over at most a handful
    of groups. Ratio-of-sums stays a single aggregation, not two passes."""
    t = load(spark, sf_dir)
    asia = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            t.nation.n_regionkey == t.region.r_regionkey,
        ).select(F.col("n_nationkey").alias("_cust_nk"))
    )
    cust = t.customer.join(
        F.broadcast(asia), t.customer.c_nationkey == F.col("_cust_nk")
    ).select("c_custkey")
    supp = t.supplier.join(
        F.broadcast(t.nation.select(F.col("n_nationkey").alias("_supp_nk"),
                                    F.col("n_name").alias("supp_nation"))),
        t.supplier.s_nationkey == F.col("_supp_nk"),
    ).select("s_suppkey", "supp_nation")
    o = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    promo = t.part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                          "l_extendedprice", "l_discount")
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
    )
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(target) / dsum(vol)).alias("mkt_share"))
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey
      AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey
      AND s_nationkey = n_nationkey
      AND p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    tags=("tpch", "join"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: 0.1 × p_retailprice stands in
    for the absent ps_supplycost): the p_name LIKE filter prunes the
    broadcast part dim FIRST, so the lineitem⋈part broadcast join discards
    ~90% of lineitem before the single fact shuffle against orders. The
    (nation, year) rollup is bounded by 25 nations × 7 years."""
    t = load(spark, sf_dir)
    p = t.part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    s = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                          "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(t.orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit).alias("sum_profit"))
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH natl AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'
    )
    SELECT l_partkey AS partkey, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS part_value
    FROM natl
    GROUP BY l_partkey
    HAVING CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) > (SELECT 0.001 * CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) FROM natl)
    """,
    tags=("tpch", "subquery"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock (adapted: per-part shipped value
    l_extendedprice × l_quantity stands in for the absent partsupp
    ps_supplycost × ps_availqty): one nation's lineitem is aggregated
    per part ONCE and that grouped result feeds both the global total
    (scalar threshold, broadcast back) and the HAVING probe — the
    self-referential threshold costs one extra single-row exchange, not
    a second scan."""
    t = load(spark, sf_dir)
    nat_supp = t.supplier.join(
        F.broadcast(t.nation.filter(F.col("n_name") == "NATION_3")),
        t.supplier.s_nationkey == t.nation.n_nationkey,
    ).select("s_suppkey")
    # Keep the DECIMAL(18,6) partial per part and derive BOTH the output
    # double and the global threshold from it (ADVICE r12): summing the
    # decimal partials is exactly the oracle's decimal sum over raw natl
    # rows, whereas re-casting each emitted per-part double back to
    # decimal would only agree while every part_value double round-trips
    # its 6dp decimal exactly (|sum| below ~4.5e9).
    per_part = (
        t.lineitem.select("l_partkey", "l_suppkey",
                          (F.col("l_extendedprice") * F.col("l_quantity")).alias("_v"))
        .join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("_v").cast(MONEY)).alias("_dv"))
    )
    threshold = per_part.agg(
        (F.lit(0.001) * F.sum("_dv").cast("double")).alias("_thr")
    )
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("_dv").cast("double") > F.col("_thr"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("_dv").cast("double").alias("part_value"),
        )
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution (adapted: the
    o_orderpriority exclusion stands in for the absent o_comment NOT
    LIKE): a LEFT OUTER join with a compound condition — the priority
    predicate belongs to the join condition, NOT a pre-filter that would
    drop customers — then two cascaded aggregations, the second over a
    value domain of at most a few dozen counts (near-free shuffle)."""
    t = load(spark, sf_dir)
    o = t.orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        t.customer.select("c_custkey")
        .join(o, t.customer.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q_tpch_q20",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS total_qty,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                       AND l_shipdate <  TIMESTAMP '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_1996
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier, nation
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped
                        WHERE qty_1996 > 0.5 * total_qty)
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_8'
    """,
    tags=("tpch", "subquery", "join"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion (adapted: a (part, supplier)
    pair's all-time shipped quantity stands in for ps_availqty, and the
    original "availqty > half the year's shipments" becomes "1996 carried
    more than half the pair's lifetime volume"): the nested IN-chain is
    two semi-joins — part names prune the pair aggregation's INPUT via a
    broadcast semi-join (not after), and the surviving supplier keys
    (tiny) broadcast into the nation-filtered supplier dim."""
    t = load(spark, sf_dir)
    small_parts = t.part.filter(F.col("p_name").like("small%")).select("p_partkey")
    in_1996 = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    pairs = (
        t.lineitem.select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"),
              "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            F.sum(F.when(in_1996, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "qty_1996"
            ),
        )
    )
    hot_suppliers = (
        pairs.filter(F.col("qty_1996") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t.supplier.join(
            F.broadcast(t.nation.filter(F.col("n_name") == "NATION_8")),
            t.supplier.s_nationkey == t.nation.n_nationkey,
        )
        .join(F.broadcast(hot_suppliers),
              t.supplier.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_13'
    GROUP BY s_name
    """,
    tags=("tpch", "subquery", "window"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting (adapted:
    l_returnflag='R' stands in for the absent receipt-after-commit
    predicate): the EXISTS / NOT EXISTS pair over sibling lineitem rows is
    decorrelated into ONE window pass over l_orderkey — per order,
    collect_set counts the distinct suppliers and the distinct
    R-flag suppliers, and the textbook double self-join of lineitem
    (two extra shuffles of the largest table) disappears. Per-order
    supplier sets are bounded (≤ lines per order), so the collect_set
    state cannot skew."""
    t = load(spark, sf_dir)
    w = Window.partitionBy("l_orderkey")
    li = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_returnflag")
        .withColumn("_n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "_n_rsupp",
            F.size(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                ).over(w)
            ),
        )
    )
    blamed = li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("_n_supp") > 1)
        & (F.col("_n_rsupp") == 1)
    )
    fin = t.orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = t.supplier.join(
        F.broadcast(t.nation.filter(F.col("n_name") == "NATION_13")),
        t.supplier.s_nationkey == t.nation.n_nationkey,
    ).select("s_suppkey", "s_name")
    return (
        blamed.join(fin, blamed.l_orderkey == fin.o_orderkey, "left_semi")
        .join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
