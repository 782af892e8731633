"""Aggregation surface beyond the flagship rollup (SURVEY §2.C).

The reference's only aggregation is the hand-rolled per-symbol OHLC buffer
(/root/reference/dataCollector.py:80-94) — covered by operators/rollup.py.
This module closes the rest of the declared aggregation surface: distinct,
count-distinct (exact + approximate), grouping sets (rollup/cube), and
filtered/conditional aggregates.

Scale notes: every groupBy here is a single shuffle with map-side partial
aggregation; countDistinct plans as a two-phase expand+agg; rollup/cube use
Expand (one input pass, G group-replicas) rather than G separate scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import davg, dsum
from ..ranking import global_running
from ..registry import query


@query(
    "q_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.lineitem.select("l_returnflag", "l_linestatus").distinct()


@query(
    "q_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_approx_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    count-distinct's expand+shuffle is too expensive. Sketches merge
    associatively, so this is one pass, no expand.

    Driver-checkable output (the driver has no rows-only fallback): the
    estimate itself is engine-specific, so the query emits the exact count
    plus a tolerance verdict (``est_within_5pct``); the oracle computes the
    exact side and states the verdict as literal TRUE. A broken sketch
    (estimate drifting >5% at rsd=0.01) flips the boolean and fails the
    hash. q_count_distinct is the exact-only twin.

    Plan shape: distinct-pairs first, then a plain aggregate — NOT
    ``countDistinct`` next to the sketch in one agg, which plans an
    Expand that duplicates every input row per aggregate branch before
    the shuffle. Over the distinct (event_type, user_id) pairs,
    ``count(*)`` IS the exact distinct count and the HLL estimate is
    unchanged (sketches are duplicate-insensitive), so the rewrite is
    output-identical with map-side partial aggregation on both hops and
    no expand (r7: 1.6 → 1.0 s warm at sf0.01; at 100 TB the expand is
    2× the fact scan's shuffle volume)."""
    t = load(spark, sf_dir)
    return (
        # NULL contract: countDistinct ignores NULL user_ids but a
        # (type, NULL) distinct pair would be counted — filter explicitly
        # so n_users_exact stays equal to count(DISTINCT user_id) even if
        # the schema's non-null guarantee is ever relaxed (pushed to scan,
        # no extra pass).
        t.events.select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("_est"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_est") - F.col("n_users_exact"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("n_users_exact"))
            ).alias("est_within_5pct"),
        )
    )


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)       AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)  AS sum_price,
           count(*)              AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount)) AS avg_disc,
           count(*)        AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir)
    return t.lineitem.cube("l_returnflag", "l_linestatus").agg(
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*)        AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg",),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (arbitrary group combinations — rollup/cube
    are special cases) through the SQL surface: one Expand over one scan,
    not one scan per set."""
    t = load(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               count(*)        AS n
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=t.lineitem,
    )


@query(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation, DuckDB-identical
    semantics). Exact percentile sorts per group — fine per-key; at 100 TB
    prefer q_approx_percentile's mergeable sketch."""
    t = load(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("p95"),
    )


@query(
    "q_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
           TRUE AS est_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-percentile sketch — one pass, mergeable partials, no
    per-group sort: the 100 TB path. Driver-checkable form: emits the
    exact p50 (interpolated, DuckDB-identical) plus a 5%-relative-error
    verdict on the sketch estimate; the oracle states the verdict TRUE.
    q_percentile is the exact-only twin."""
    t = load(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
            F.percentile_approx(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("_est"),
        )
        .select(
            "l_returnflag",
            F.round("p50_exact", 6).alias("p50_exact"),
            (
                F.abs(F.col("_est") - F.col("p50_exact"))
                <= 0.05 * F.abs(F.col("p50_exact"))
            ).alias("est_within_5pct"),
        )
    )


@query(
    "q_cond_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice END AS DECIMAL(18,6))) AS DOUBLE) AS disc_price,
           count(*) FILTER (WHERE l_quantity >= 25)                  AS n_bulk,
           (CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(18,6))) AS DOUBLE) / count(CASE WHEN l_linestatus = 'F' THEN l_quantity END)) AS avg_qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_cond_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregates — sum/count/avg over predicated
    subsets in one pass (no per-predicate scans)."""
    t = load(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        dsum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))).alias(
            "disc_price"
        ),
        F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
        davg(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))).alias(
            "avg_qty_f"
        ),
    )


@query(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 8) AS sd_price,
           round(var_samp(l_quantity), 8)         AS var_qty,
           round(corr(l_extendedprice, l_quantity), 8)       AS corr_pq,
           round(covar_samp(l_extendedprice, l_discount), 8) AS cov_pd,
           round(skewness(l_extendedprice)
             * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)), 8)
             AS skew_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/covar/skewness — all
    single-pass streaming moments (Welford-style partial buffers), so the
    plan is the same partial/final two-phase HashAggregate as any sum.

    Definitional note: Spark's skewness is the population moment g1;
    DuckDB's is the bias-corrected sample G1 — the oracle converts
    (G1 * (n-2)/sqrt(n(n-1)) == g1, exactly)."""
    t = load(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 8).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 8).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 8).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 8).alias(
            "cov_pd"
        ),
        F.round(F.skewness("l_extendedprice"), 8).alias("skew_price"),
    )


@query(
    "q_array_agg",
    oracle="""
    SELECT n_regionkey,
           to_json(list_sort(list(n_name)))          AS nations,
           to_json(list_sort(list(DISTINCT n_name))) AS nations_distinct,
           array_to_string(list_sort(list(n_name)), ',') AS nations_csv
    FROM nation GROUP BY n_regionkey
    """,
    tags=("agg", "array"),
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/string aggregation: collect values per group into arrays and a
    delimited string. collect_list order is partition-dependent, so results
    are sorted before they leave the aggregation — the only deterministic
    contract for distributed array_agg (and the reason the raw unsorted
    form can never be oracle-checked)."""
    t = load(spark, sf_dir)
    return t.nation.groupBy("n_regionkey").agg(
        F.to_json(F.sort_array(F.collect_list("n_name"))).alias("nations"),
        F.to_json(F.sort_array(F.collect_set("n_name"))).alias("nations_distinct"),
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        ),
    )


@query(
    "q_mode",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS v, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, v) AS rn
      FROM c
    )
    SELECT event_type, v AS mode_value FROM r WHERE rn = 1
    """,
    tags=("agg",),
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent floor(value) per event_type,
    lowest value on frequency ties (Spark's mode(expr, true) contract; the
    oracle spells the same tie-break out as a rank)."""
    t = load(spark, sf_dir)
    return (
        t.events.select(
            "event_type",
            F.floor("value").cast("bigint").alias("v"),
        )
        .groupBy("event_type")
        .agg(F.mode(F.col("v"), True).alias("mode_value"))
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(value / 25) AS BIGINT) AS bin,
           count(*)   AS n,
           min(value) AS lo,
           max(value) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("agg",),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin index is a pure projection, so the whole
    histogram is one partial-aggregated shuffle of #bins rows — the
    constant-size answer shape that survives any input scale."""
    t = load(spark, sf_dir)
    return (
        t.events.groupBy(
            F.floor(F.col("value") / 25).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "q_hll_sketch",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
    """,
    tags=("agg", "approx"),
)
def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL): one
    sketch per event_type, plus the global estimate produced by UNIONING
    the per-type sketches — never re-reading the input for the rollup.
    Associative sketch merge is the property that makes distinct-count
    scale: partial sketches combine map-side, re-aggregate across
    partitions, and roll up across time grains at fixed memory.

    Driver-checkable form: estimates are implementation-specific, so each
    row carries the exact distinct count plus a 5%-tolerance verdict on
    the sketch estimate (oracle: exact + literal TRUE). The merged 'ALL'
    row checks the union-merge path end-to-end — a broken merge drifts the
    global estimate and flips its boolean."""
    t = load(spark, sf_dir)
    # Distinct pairs first (sketches are duplicate-insensitive, count(*)
    # of the pairs is the exact distinct count) — avoids the Expand that
    # sketch-next-to-countDistinct plans; see q_approx_count_distinct.
    # NULL contract: see q_approx_count_distinct — drop NULL user_ids so
    # the pair count matches count(DISTINCT user_id) under any nullability.
    pairs = (
        t.events.select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
        .distinct()
    )
    sketches = pairs.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_users_exact"),
    )
    ok = lambda est, exact: (
        F.abs(est - exact) <= F.greatest(F.lit(1.0), 0.05 * exact)
    )
    per_type = sketches.select(
        "event_type",
        "n_users_exact",
        ok(F.hll_sketch_estimate("sk"), F.col("n_users_exact")).alias(
            "est_within_5pct"
        ),
    )
    global_exact = pairs.agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    merged = (
        sketches.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"))
        .crossJoin(global_exact)
        .select(
            F.lit("ALL").alias("event_type"),
            "n_users_exact",
            ok(F.col("_est"), F.col("n_users_exact")).alias("est_within_5pct"),
        )
    )
    return per_type.unionByName(merged)


@query(
    "q_median",
    oracle="""
    SELECT event_type, median(value) AS med
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def q_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated percentile-0.5) per key. Exact medians
    need the full sorted group — at scale prefer percentile_approx
    (q_approx_percentile's KLL sketch); this is the exact-answer path for
    dimension-sized groups."""
    t = load(spark, sf_dir)
    return t.events.groupBy("event_type").agg(F.median("value").alias("med"))


@query(
    "q_regression",
    oracle="""
    SELECT event_type,
           round(regr_slope(value,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                 / 86400000000.0), 8)             AS slope_per_day,
           round(regr_intercept(value,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                 / 86400000000.0), 8)             AS intercept,
           round(regr_r2(value,
                 (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                 / 86400000000.0), 8)             AS r2
    FROM events GROUP BY event_type
    """,
    tags=("agg", "stats"),
)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key linear trend (ordinary least squares) as one-pass moment
    aggregates: regr_slope/intercept/r2 over (value, days-since-epoch).
    The regressor is CENTERED to day units before aggregating — raw
    microsecond epochs (~1.7e15) would put the covariance into
    catastrophic-cancellation territory and engines would disagree;
    conditioning the input is part of the operator's contract."""
    t = load(spark, sf_dir)
    x = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    ) / F.lit(86400000000.0)
    return t.events.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 8).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 8).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 8).alias("r2"),
    )


@query(
    "q_bit_bool_agg",
    oracle="""
    SELECT event_type,
           bit_and(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_and,
           bit_or(CAST(json_extract_string(props, '$.k') AS BIGINT))  AS k_or,
           bit_xor(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_xor,
           bool_and(value > 0)   AS all_positive,
           bool_or(value > 400)  AS any_extreme,
           CAST(count_if(value > 100) AS BIGINT) AS n_over_100
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def q_bit_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregates — associative/commutative reductions
    (map-side partials apply), the toolkit for flag-mask rollups and
    predicate summaries."""
    t = load(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return t.events.groupBy("event_type").agg(
        F.bit_and(k).alias("k_and"),
        F.bit_or(k).alias("k_or"),
        F.bit_xor(k).alias("k_xor"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 400).alias("any_extreme"),
        F.count_if(F.col("value") > 100).alias("n_over_100"),
    )


@query(
    "q_kll_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50_exact,
           round(quantile_cont(value, 0.9), 6)  AS p90_exact,
           round(quantile_cont(value, 0.99), 6) AS p99_exact,
           TRUE AS est_in_rank_band
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', round(quantile_cont(value, 0.5), 6),
           round(quantile_cont(value, 0.9), 6),
           round(quantile_cont(value, 0.99), 6), TRUE
    FROM events
    """,
    tags=("agg", "approx"),
)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL, Spark 4.1):
    per-key value sketches queried for p50/p90/p99, plus the GLOBAL
    quantiles produced by merging the per-key sketches — the property that
    makes distributed percentiles scale: partials combine map-side and roll
    up across keys/time grains at fixed memory, where exact percentiles
    re-sort the world.

    Driver-checkable form: emits the exact p50/p90/p99 plus one verdict
    boolean asserting each sketch estimate lands inside the exact value at
    rank ±3% — the guarantee KLL actually makes (default k ⇒ ~1.65% rank
    error). The 'ALL' row exercises the sketch-merge fold
    (kll_sketch_merge_double is a binary scalar merge — no union-agg
    counterpart yet — so the per-key sketches fold via a higher-order
    aggregate; associativity is still the property under test)."""
    t = load(spark, sf_dir)
    bands = [(0.5, 0.47, 0.53), (0.9, 0.87, 0.93), (0.99, 0.96, 1.0)]
    exact_aggs = []
    for p, lo, hi in bands:
        tag = str(int(p * 100))
        exact_aggs += [
            F.percentile("value", F.lit(p)).alias(f"p{tag}_exact"),
            F.percentile("value", F.lit(lo)).alias(f"_lo{tag}"),
            F.percentile("value", F.lit(hi)).alias(f"_hi{tag}"),
        ]
    sketches = t.events.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"), *exact_aggs
    )

    def verdict(df):
        cond = F.lit(True)
        for p, _, _ in bands:
            tag = str(int(p * 100))
            est = F.kll_sketch_get_quantile_double("sk", F.lit(p))
            cond = cond & est.between(F.col(f"_lo{tag}"), F.col(f"_hi{tag}"))
        return df.select(
            "event_type",
            F.round("p50_exact", 6).alias("p50_exact"),
            F.round("p90_exact", 6).alias("p90_exact"),
            F.round("p99_exact", 6).alias("p99_exact"),
            cond.alias("est_in_rank_band"),
        )

    per_type = verdict(sketches)
    # kll_sketch_merge_double fold over the handful of per-key sketches.
    merged_sk = sketches.agg(F.collect_list("sk").alias("arr")).select(
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1), arr[0],"
            " (acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sk")
    )
    global_exact = t.events.agg(*exact_aggs)
    merged = verdict(
        merged_sk.crossJoin(global_exact).withColumn(
            "event_type", F.lit("ALL")
        )
    )
    return per_type.unionByName(merged)


@query(
    "q_theta_sketch",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "approx"),
)
def q_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (DataSketches, Spark 4.1): the third sketch family —
    distinct-count with set-algebra (union/intersect/difference) support.
    Per-type distinct-user estimates, emitted driver-checkable as exact
    count + 5%-tolerance verdict on the sketch estimate (oracle states
    TRUE).

    Distinct-pairs-first plan, same rationale as q_approx_count_distinct
    (no Expand; sketches are duplicate-insensitive)."""
    t = load(spark, sf_dir)
    return (
        # NULL contract: countDistinct ignores NULL user_ids but a
        # (type, NULL) distinct pair would be counted — filter explicitly
        # so n_users_exact stays equal to count(DISTINCT user_id) even if
        # the schema's non-null guarantee is ever relaxed (pushed to scan,
        # no extra pass).
        t.events.select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users_exact"),
            F.theta_sketch_estimate(F.theta_sketch_agg("user_id")).alias(
                "_est"
            ),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_est") - F.col("n_users_exact"))
                <= F.greatest(F.lit(2.0), 0.05 * F.col("n_users_exact"))
            ).alias("est_within_5pct"),
        )
    )


@query(
    "q_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4))) AS DOUBLE) AS exact_sum,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "decimal"),
)
def q_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finance-grade exact aggregation: DECIMAL(18,4) sums are associative
    with NO floating-point drift — the same total regardless of partition
    count or merge order, which doubles cannot promise (SURVEY §1.2 notes
    the reference stores REAL; this is the upgrade path). Spark widens
    decimal sums internally (DECIMAL(28,4)) to absorb overflow."""
    t = load(spark, sf_dir)
    return (
        t.lineitem.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,4)").alias("p"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum("p").cast("double").alias("exact_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q_chisq",
    oracle="""
    WITH cells AS (
      SELECT event_type, CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END AS bucket,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    row_m AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type),
    col_m AS (SELECT bucket, sum(o) AS ct FROM cells GROUP BY bucket),
    tot AS (SELECT sum(o) AS n FROM cells)
    SELECT round(sum((o - rt * ct / CAST(n AS DOUBLE))
                     * (o - rt * ct / CAST(n AS DOUBLE))
                     / (rt * ct / CAST(n AS DOUBLE))), 6) AS chi2,
           CAST((count(DISTINCT c.event_type) - 1)
                * (count(DISTINCT c.bucket) - 1) AS BIGINT) AS dof
    FROM cells c
    JOIN row_m USING (event_type)
    JOIN col_m USING (bucket)
    CROSS JOIN tot
    """,
    tags=("agg", "stats"),
)
def q_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and a value
    band — the feature-association screen run before keeping a categorical
    column in a training set. chi2 = sum over contingency cells of
    (observed - expected)^2 / expected with expected = row_total *
    col_total / N.

    The contingency table is cells-sized (categories^2), so after ONE
    fact-table groupBy everything downstream — margins, totals, the
    statistic — is dimension-scale arithmetic on broadcast-sized data.
    This is the general template for engine-side statistics: reduce to
    sufficient statistics early, never move raw rows twice.
    """
    t = load(spark, sf_dir)
    cells = t.events.groupBy(
        "event_type",
        F.when(F.col("value") >= 50, "hi").otherwise("lo").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("o"))
    row_m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_m = cells.groupBy("bucket").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    exp = F.col("rt") * F.col("ct") / F.col("n").cast("double")
    return (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "bucket")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 6
            ).alias("chi2"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("bucket") - 1)
            )
            .cast("bigint")
            .alias("dof"),
        )
    )


@query(
    "q_gini",
    oracle="""
    WITH spend AS (
      SELECT c.c_mktsegment, c.c_custkey, sum(o.o_totalprice) AS x
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ),
    ranked AS (
      SELECT c_mktsegment, x,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY x, c_custkey) AS i,
             count(*) OVER (PARTITION BY c_mktsegment) AS n,
             sum(x)   OVER (PARTITION BY c_mktsegment) AS tot
      FROM spend
    )
    SELECT c_mktsegment,
           round(2.0 * sum(i * x) / (n * tot) - (n + 1.0) / n, 8) AS gini,
           n AS n_customers
    FROM ranked
    GROUP BY c_mktsegment, n, tot
    ORDER BY c_mktsegment
    """,
    tags=("agg", "stats"),
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per market segment — the
    concentration/inequality screen (is revenue spread across customers
    or owned by whales?), same machinery a data curator uses to ask
    whether a corpus is dominated by a few sources. Computed by the
    rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending
    per-customer totals.

    Shape: fact-table groupBy to customer grain, then ONE window sort at
    customer cardinality (already aggregate-sized), then a group agg.
    The (n, tot) window values ride the same partition sort — no extra
    shuffles, no self-join.
    """
    t = load(spark, sf_dir)
    spend = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    by_seg = Window.partitionBy("c_mktsegment")
    ranked = spend.select(
        "c_mktsegment",
        "x",
        F.row_number().over(by_seg.orderBy("x", "c_custkey")).alias("i"),
        F.count(F.lit(1)).over(by_seg).alias("n"),
        F.sum("x").over(by_seg).alias("tot"),
    )
    return (
        ranked.groupBy("c_mktsegment", "n", "tot")
        .agg(
            F.round(
                2.0 * F.sum(F.col("i") * F.col("x")) / (F.col("n") * F.col("tot"))
                - (F.col("n") + 1.0) / F.col("n"),
                8,
            ).alias("gini")
        )
        .select("c_mktsegment", "gini", F.col("n").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT count(*) AS n FROM digits)
    SELECT d, count(*) AS n_obs,
           round(count(*) / CAST(n AS DOUBLE), 6) AS observed_p,
           round(log10(1.0 + 1.0 / d), 6) AS benford_p,
           round(count(*) / CAST(n AS DOUBLE) - log10(1.0 + 1.0 / d), 6)
             AS deviation
    FROM digits CROSS JOIN tot
    GROUP BY d, n ORDER BY d
    """,
    tags=("agg", "stats", "quality"),
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic synthetic-data / fraud screen: organically-grown magnitudes
    follow P(d) = log10(1 + 1/d); fabricated or clipped columns don't.
    Useful here exactly as a DATA-QUALITY audit on ingested feeds.

    The digit extraction is pure arithmetic (no string casts): divide by
    the value's own power of ten. One groupBy over 9 groups — map-side
    partials do everything; the scalar total broadcasts.
    """
    t = load(spark, sf_dir)
    digits = t.orders.filter(F.col("o_totalprice") > 0).select(
        F.floor(
            F.col("o_totalprice") / F.pow(10.0, F.floor(F.log10("o_totalprice")))
        )
        .cast("bigint")
        .alias("d")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n"))
    obs_p = F.col("n_obs") / F.col("n").cast("double")
    ben_p = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        digits.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n_obs",
            F.round(obs_p, 6).alias("observed_p"),
            F.round(ben_p, 6).alias("benford_p"),
            F.round(obs_p - ben_p, 6).alias("deviation"),
        )
        .orderBy("d")
    )


@query(
    "q_autocorr",
    oracle="""
    WITH bars AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             arg_max(value, ts) AS close_price
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, close_price,
             lag(close_price, 1) OVER w AS prev1,
             lag(close_price, 24) OVER w AS prev24
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
    )
    SELECT event_type,
           round(corr(close_price, prev1), 6) AS acf_lag1,
           round(corr(close_price, prev24), 6) AS acf_lag24,
           CAST(count(prev1) AS BIGINT) AS n_lag1
    FROM lagged GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "stats", "finance"),
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of hourly closes at lag 1 and lag 24 (the
    mean-reversion vs daily-seasonality screen): Pearson corr between the
    series and its shifted self. corr() ignores the NULL-lag leading rows
    on both engines, so no explicit trimming is needed.

    Series construction is the shared hourly-bar rollup; the lag is a
    sorted-partition window; the correlation collapses to per-key
    sufficient statistics (one-pass co-moments) — nothing in the plan
    retains the series in memory.
    """
    t = load(spark, sf_dir)
    bars = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.max_by("value", "ts").alias("close_price"))
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    lagged = bars.select(
        "event_type",
        "close_price",
        F.lag("close_price", 1).over(w).alias("prev1"),
        F.lag("close_price", 24).over(w).alias("prev24"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.round(F.corr("close_price", "prev1"), 6).alias("acf_lag1"),
            F.round(F.corr("close_price", "prev24"), 6).alias("acf_lag24"),
            F.count("prev1").alias("n_lag1"),
        )
        .orderBy("event_type")
    )


@query(
    "q_target_encode",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type, value,
             sum(value) OVER (PARTITION BY event_type) AS sum_t,
             count(*)   OVER (PARTITION BY event_type) AS cnt_t
      FROM events
    )
    SELECT event_id, event_type,
           round((sum_t - value) / (cnt_t - 1), 6) AS loo_mean
    FROM s WHERE cnt_t > 1
    """,
    tags=("aggregate", "window"),
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean target encoding — the categorical-feature
    transform gradient-boosting pipelines ship (encode a category by the
    mean target of its OTHER members, so a row never leaks its own
    label): per event, (group sum - own value) / (group count - 1).
    Singleton groups have no leave-one-out mean and are excluded on both
    sides.

    Float contract: the per-group sum is one unordered double
    aggregation whose reassociation drift (~1e-12 relative) sits far
    below the 6dp output rounding on O(100) values — the q_stats_agg
    class, not the running-chain class. Scale shape: ONE window shuffle
    keyed by the category computes sum and count together; the encode is
    a map-side projection. No joins, no second pass."""
    from pyspark.sql import Window

    t = load(spark, sf_dir)
    wk = Window.partitionBy("event_type")
    s = t.events.select(
        "event_id",
        "event_type",
        "value",
        F.sum("value").over(wk).alias("sum_t"),
        F.count(F.lit(1)).over(wk).alias("cnt_t"),
    )
    return s.filter(F.col("cnt_t") > 1).select(
        "event_id",
        "event_type",
        F.round(
            (F.col("sum_t") - F.col("value")) / (F.col("cnt_t") - 1), 6
        ).alias("loo_mean"),
    )


@query(
    "q_spearman",
    oracle="""
    WITH rx AS (
      SELECT l_returnflag AS flag, l_quantity, l_extendedprice,
             rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                  - 1) / 2.0 AS rank_x,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_returnflag,
                                 l_extendedprice)
                  - 1) / 2.0 AS rank_y
      FROM lineitem
    )
    SELECT flag, CAST(count(*) AS BIGINT) AS n,
           round(corr(rank_x, rank_y), 6) AS spearman_rho,
           round(corr(l_quantity, l_extendedprice), 6) AS pearson_r
    FROM rx GROUP BY flag ORDER BY flag
    """,
    tags=("stats", "agg", "window"),
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag (with the Pearson r alongside for contrast) — the
    monotone-association readout that survives outliers and nonlinear
    pricing, standard in metric drift and feature screening.

    Ranks use the average-rank tie convention: min-rank (rank()) plus
    (tie_count−1)/2 — equivalently cum_count_before + (tie_count+1)/2 at
    DISTINCT-(flag, value) grain, which is how the engine computes them:
    one groupBy per ranked column collapses the fact to its per-flag
    distinct values, the two-pass range plan (ranking.global_running,
    grouped by flag) turns counts into average ranks with no single-task
    window, and two hash equi-joins decorate the fact rows with their
    ranks — then Spearman IS Pearson on the ranks, one group-grain
    aggregate. The fact never range-exchanges (the former per-flag rank
    windows pushed N/|flags| rows through one task each — VERDICT r12);
    at true-continuous 100 TB the distinct grain approaches row grain
    and the same plan holds because every step is distributed, or a
    binned-rank approximation (KLL quantile buckets) swaps in upstream.
    Rounded to 6dp for accumulation-order differences.
    """
    t = load(spark, sf_dir)
    base = t.lineitem.select(
        F.col("l_returnflag").alias("flag"),
        "l_quantity",
        "l_extendedprice",
    )

    def avg_ranks(value_col: str, out: str) -> DataFrame:
        g = base.groupBy("flag", value_col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return global_running(
            g, value_col, part_cols=("flag",), sums=("cnt",)
        ).select(
            "flag",
            value_col,
            (
                F.col("run_cnt") - F.col("cnt")
                + (F.col("cnt") + 1) / 2.0
            ).alias(out),
        )

    rx = base.join(
        avg_ranks("l_quantity", "rank_x"), ["flag", "l_quantity"]
    ).join(
        avg_ranks("l_extendedprice", "rank_y"),
        ["flag", "l_extendedprice"],
    )
    return (
        rx.groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.corr("rank_x", "rank_y"), 6).alias("spearman_rho"),
            F.round(
                F.corr("l_quantity", "l_extendedprice"), 6
            ).alias("pearson_r"),
        )
        .orderBy("flag")
    )


@query(
    "q_pacf",
    oracle="""
    WITH bars AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts,
             arg_max(value, ts) AS close_price
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, close_price,
             lag(close_price, 1) OVER w AS p1,
             lag(close_price, 2) OVER w AS p2,
             lag(close_price, 3) OVER w AS p3,
             lag(close_price, 4) OVER w AS p4
      FROM bars
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
    ),
    acf AS (
      SELECT event_type,
             round(corr(close_price, p1), 8) AS r1,
             round(corr(close_price, p2), 8) AS r2,
             round(corr(close_price, p3), 8) AS r3,
             round(corr(close_price, p4), 8) AS r4
      FROM lagged GROUP BY event_type
    ),
    l2 AS (
      SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS p22 FROM acf
    ),
    l2b AS (
      SELECT *, r1 - p22 * r1 AS p21 FROM l2
    ),
    l3 AS (
      SELECT *, (r3 - p21 * r2 - p22 * r1)
                / (1 - p21 * r1 - p22 * r2) AS p33
      FROM l2b
    ),
    l3b AS (
      SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM l3
    ),
    l4 AS (
      SELECT *, (r4 - p31 * r3 - p32 * r2 - p33 * r1)
                / (1 - p31 * r1 - p32 * r2 - p33 * r3) AS p44
      FROM l3b
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag, acf, pacf FROM (
      SELECT event_type, 1 AS lag, r1 AS acf, round(r1, 8) AS pacf FROM l4
      UNION ALL
      SELECT event_type, 2, r2, round(p22, 8) FROM l4
      UNION ALL
      SELECT event_type, 3, r3, round(p33, 8) FROM l4
      UNION ALL
      SELECT event_type, 4, r4, round(p44, 8) FROM l4
    ) ORDER BY event_type, lag
    """,
    tags=("agg", "stats", "finance"),
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (Durbin-Levinson recursion, lags 1-4) of
    each type's hourly close series, alongside the raw ACF — the AR-order
    diagnostic that completes q_autocorr: ACF says "correlated at lag k",
    PACF says "correlated at lag k AFTER removing shorter lags", which is
    what actually picks the AR(p) model.

    Lockstep contract: the r_k feed the recursion ROUNDED to 8dp in both
    engines (the q_hits/round-10 technique — identical inputs make the
    pure double algebra bit-reproducible); the DL unroll itself is scalar
    arithmetic on a per-type row. Scale: one hour-grain rollup (map-side
    combinable), 4 lag windows at BAR grain (≤ hours×types rows — never
    the fact), one aggregate, then closed-form algebra. The 100 TB cost
    is the rollup scan; everything after is constant."""
    t = load(spark, sf_dir)
    bars = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.max_by("value", "ts").alias("close_price"))
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    lagged = bars.select(
        "event_type",
        "close_price",
        *[
            F.lag("close_price", k).over(w).alias(f"p{k}")
            for k in range(1, 5)
        ],
    )
    acf = lagged.groupBy("event_type").agg(
        *[
            F.round(F.corr("close_price", f"p{k}"), 8).alias(f"r{k}")
            for k in range(1, 5)
        ]
    )
    r1, r2, r3, r4 = [F.col(f"r{k}") for k in range(1, 5)]
    l2 = acf.withColumn("p22", (r2 - r1 * r1) / (1 - r1 * r1))
    l2b = l2.withColumn("p21", r1 - F.col("p22") * r1)
    p21, p22 = F.col("p21"), F.col("p22")
    l3 = l2b.withColumn(
        "p33",
        (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2),
    )
    p33 = F.col("p33")
    l3b = l3.withColumn("p31", p21 - p33 * p22).withColumn(
        "p32", p22 - p33 * p21
    )
    p31, p32 = F.col("p31"), F.col("p32")
    l4 = l3b.withColumn(
        "p44",
        (r4 - p31 * r3 - p32 * r2 - p33 * r1)
        / (1 - p31 * r1 - p32 * r2 - p33 * r3),
    )
    rows = F.array(
        F.struct(
            F.lit(1).alias("lag"), r1.alias("acf"),
            F.round(r1, 8).alias("pacf"),
        ),
        F.struct(
            F.lit(2).alias("lag"), r2.alias("acf"),
            F.round(F.col("p22"), 8).alias("pacf"),
        ),
        F.struct(
            F.lit(3).alias("lag"), r3.alias("acf"),
            F.round(F.col("p33"), 8).alias("pacf"),
        ),
        F.struct(
            F.lit(4).alias("lag"), r4.alias("acf"),
            F.round(F.col("p44"), 8).alias("pacf"),
        ),
    )
    return (
        l4.select("event_type", F.explode(rows).alias("r"))
        .select("event_type", "r.lag", "r.acf", "r.pacf")
        .orderBy("event_type", "lag")
    )
