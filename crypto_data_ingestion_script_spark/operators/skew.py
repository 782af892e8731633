"""Skew mitigation (SURVEY §7.4.6; task contract "salting for skew").

A hot key concentrates an entire reduce-side group on one task; at 100 TB a
single skewed symbol/event_type turns a 1000-executor aggregation into a
1-executor straggler. Two standard remedies, both *semantics-preserving*
(the declared queries are hash-checked against the plain-SQL oracle — if
salting changed any value, the gate would catch it):

- **Salted two-stage aggregation**: append a deterministic salt to the
  group key, partially aggregate on (key, salt) — splitting each hot key's
  rows across ``n_salts`` reducers — then finish on the bare key. Works for
  any algebra with a partial/merge decomposition (sum/count/min/max and
  avg as sum+count); the union-then-agg ≡ agg-then-merge law behind it is
  property-tested in tests/test_properties.py.

- **Salted (replicated-dim) join**: explode the small side ``n_salts``×
  with every salt value, salt the big side deterministically, and equi-join
  on (key, salt). Salt *s* of key *k* is sent to its own reducer, so each
  hot join key's probe rows spread over ``n_salts`` tasks while every
  probe row still finds its build rows.

AQE's runtime skew-join splitting (on in session.RUNTIME_CONFS) handles
sort-merge skew automatically; these explicit operators cover what AQE
cannot: aggregation skew, and broadcast-ineligible dims with hot keys.

Salts are ``pmod(xxhash64(unique_col, "_salt"), n)`` (``_salt``) — no RNG,
stable across runs, retries, and re-planning (a nondeterministic salt would
break task retry exactly-once semantics). The ``"_salt"`` domain tag makes
the salt independent of the plain ``xxhash64(unique_col)``: a caller that
selected or bucketed rows by that hash (``pmod(xxhash64(id), 10) < 3``)
would otherwise hand the salt correlated low bits, and an even ``n`` would
then split a hot key unevenly across its salts.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exact import MONEY
from ..partitioning import plan_size_bytes
from ..registry import query


def _salt(salt_on: Column, n: int) -> Column:
    """The salt in ``[0, n)``: a domain-tagged hash of ``salt_on``, so it
    shares no bits with an untagged ``xxhash64(salt_on)`` (module doc)."""
    return F.pmod(F.xxhash64(salt_on, F.lit("_salt")), F.lit(n))


def _broadcastable(df: DataFrame) -> bool:
    """True when the planner would broadcast ``df``: its plan-size estimate
    is within ``spark.sql.autoBroadcastJoinThreshold`` (negative = off).
    Without an estimate the answer is False."""
    conf = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # Spark byte strings: "10485760b", "64MB", "-1" (binary units).
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", conf.strip().lower())
    threshold = int(m[1]) << 10 * " kmgtp".index(m[2])
    est = plan_size_bytes(df)
    return threshold >= 0 and est is not None and est <= threshold


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    salt_on: Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-safe aggregation: (sum, count, min, max, avg of
    ``value``) grouped by ``keys``.

    Stage 1 groups by (keys, salt) — the hot key's rows land on up to
    ``n_salts`` different reducers; stage 2 merges the per-salt partials on
    the bare keys. The second shuffle moves only ``|groups| × n_salts``
    rows, which is negligible next to the first stage's input.
    """
    salt = _salt(salt_on, n_salts).alias("_salt")
    # Partials accumulate in DECIMAL (functions/exact.py): the whole
    # point of salting is that reduction order changes, so a double sum
    # here would differ per salt layout; decimal sums re-associate
    # exactly and the final cast-to-double is order-invariant.
    partial = df.groupBy(*keys, salt).agg(
        F.sum(F.col("value").cast(MONEY)).alias("_sum"),
        F.count(F.lit(1)).alias("_n"),
        F.min("value").alias("_min"),
        F.max("value").alias("_max"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("_sum").cast("double").alias("sum_value"),
        F.sum("_n").alias("n"),
        F.min("_min").alias("min_value"),
        F.max("_max").alias("max_value"),
        (F.sum("_sum").cast("double") / F.sum("_n")).alias("avg_value"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_on: Column,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: replicate the small side across all salts,
    salt the big side deterministically, join on (key, salt).

    Cost model: small side grows ``n_salts``× (fine — it is small by
    contract); the big side's hot keys spread over ``n_salts`` tasks. Use
    when the small side exceeds the broadcast threshold but a handful of
    join keys dominate the big side.

    Both sides are repartitioned by id so that salt *s* of key *k* lands on
    reducer ``(pmod(hash(k), R) + s) mod R`` with
    ``R = max(spark.sql.shuffle.partitions, n_salts)``: a key's salts take
    ``n_salts`` distinct reducers whatever the session's partition count
    (hash-partitioning ``(k, s)`` lets salts collide). The join keys gain
    that ``_pid``, a function of (key, salt), so the sort-merge join keeps
    the pass-through partitioning — one exchange per side — and the rows
    are unchanged. When the replicated side is within the broadcast
    threshold the planner broadcasts it and no reducer exists to steer:
    the plain (key, salt) join is kept.
    """
    salted_big = big.withColumn("_salt", _salt(salt_on, n_salts))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    replicated = small.select("*", salts).withColumn(
        "_salt", F.col("_salt").cast("bigint")
    )
    if _broadcastable(replicated):
        return salted_big.join(replicated, [key, "_salt"]).drop("_salt")
    r = max(int(big.sparkSession.conf.get("spark.sql.shuffle.partitions")), n_salts)
    pid = F.pmod(F.pmod(F.hash(key), F.lit(r)) + F.col("_salt"), F.lit(r))

    def steer(df: DataFrame) -> DataFrame:
        return df.withColumn("_pid", pid.cast("int")).repartitionById(r, "_pid")

    return (
        steer(salted_big)
        .join(steer(replicated), ["_pid", key, "_salt"])
        .drop("_pid", "_salt")
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           count(*)     AS n,
           min(value)   AS min_value,
           max(value)   AS max_value,
           (CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)) AS avg_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "skew"),
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation over events keyed by event_type (a
    low-cardinality key — exactly the shape that skews). Must hash-match
    the plain one-stage oracle: salting is invisible in the result."""
    t = load(spark, sf_dir)
    return salted_aggregate(
        t.events, keys=["event_type"], salt_on=F.col("event_id"), n_salts=16
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000
    """,
    tags=("join", "skew"),
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (orders salted on o_orderkey, customer
    replicated 8x). Same rows as a plain join — the skew plumbing is
    result-invisible, which is the point of the hash check."""
    t = load(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 100000).withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    out = salted_join(
        big, t.customer, key="c_custkey", salt_on=F.col("o_orderkey"), n_salts=8
    )
    return out.select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


#: Heavy-hitter threshold: keys with frequency > PHI * total are reported.
HH_PHI = 0.034
#: Misra-Gries counter budget; the sketch guarantee needs K + 1 >= 1/PHI.
HH_K = 30


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    n AS (SELECT count(*) AS n FROM tok)
    SELECT token, count(*) AS freq
    FROM tok GROUP BY token
    HAVING count(*) > {HH_PHI} * (SELECT n FROM n)
    """,
    tags=("skew", "sketch", "text"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items via a Misra-Gries candidate sketch + recount —
    corpus stopword discovery: every token whose frequency exceeds
    PHI = HH_PHI of all tokens.

    The naive plan shuffles the FULL key universe to count it. This plan
    never does: a per-partition Misra-Gries sketch (K = HH_K counters,
    constant memory) runs inside ``mapInPandas`` and emits only candidate
    keys. The sketch guarantee — any key with global freq > PHI·n has
    local freq > n_p/(K+1) in at least one partition (pigeonhole), and a
    K-counter MG never evicts such a key — makes candidates a SUPERSET of
    the true heavy hitters, so the exact recount (fact semi-joined to the
    broadcast candidate set, then one small groupBy) returns EXACTLY the
    oracle's GROUP BY/HAVING answer. Shuffle volume falls from |keys| to
    |candidates| ≈ K·partitions — the difference between shuffling a
    100 TB token universe and a few thousand rows. The decrement step uses
    batch-min subtraction (a valid MG generalization with the same
    survival bound).
    """
    t = load(spark, sf_dir)
    tokens = t.documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    candidates = mg_candidates(tokens, HH_K)
    total = tokens.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("freq") > F.lit(HH_PHI) * F.col("n"))
        .select("token", "freq")
    )


def mg_candidates(tokens: DataFrame, k: int) -> DataFrame:
    """Misra-Gries candidate extraction core: one pass over a single
    ``token`` string column, trimming to ≤ k counters after each Arrow
    batch merges — so k counters persist BETWEEN batches, and the peak is
    bounded by k + the batch's distinct-token count (the Arrow batch size
    caps it; a strictly-k variant would trim per row at ~100× the Python
    overhead for the same output). Superset guarantee (tested on
    planted-hitter fixtures in tests/test_properties.py): the batch-min
    decrement preserves the survival bound — any key whose local frequency
    exceeds n_p/(k+1) in some partition survives there, so with k+1 ≥ 1/φ
    every global φ-heavy key is emitted."""
    import pandas as pd

    def mg_sketch(batches):
        from collections import Counter

        counters: Counter = Counter()
        for pdf in batches:
            for tok, cnt in pdf["token"].value_counts().items():
                counters[tok] += int(cnt)
            while len(counters) > k:
                m = min(counters.values())
                for key in list(counters):
                    counters[key] -= m
                    if counters[key] <= 0:
                        del counters[key]
        if counters:
            yield pd.DataFrame({"token": list(counters.keys())})

    return tokens.mapInPandas(mg_sketch, "token string").distinct()


@query(
    "q_skew_stats",
    oracle="""
    WITH kc AS (
      SELECT user_id AS key, count(*) AS c FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_key_rows,
             round(quantile_cont(c, 0.99), 4) AS p99_key_rows,
             round(max(c) / avg(c), 4) AS skew_ratio,
             round(max(c) / CAST(sum(c) AS DOUBLE), 8) AS top_key_share
      FROM kc
    )
    SELECT n_keys, n_rows, max_key_rows, p99_key_rows, skew_ratio,
           top_key_share,
           CASE WHEN n_keys <= 10000 THEN 'broadcast'
                WHEN skew_ratio > 20 THEN 'salt_or_aqe_skew_join'
                ELSE 'plain_shuffle_join' END AS recommended_strategy
    FROM s
    """,
    tags=("skew", "planning", "agg"),
)
def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight check a 100 TB pipeline
    runs BEFORE choosing a join strategy: key cardinality, rows behind
    the hottest key, p99 key multiplicity, skew ratio (max/avg), the
    hottest key's row share, and the strategy the numbers imply
    (broadcast below dimension size; salting/AQE skew-join when one key
    dominates; plain shuffle otherwise). q_join_salted and the AQE
    skew tests prove the REMEDIES; this operator is the detector that
    decides among them, as a query over the data itself.

    Shape: one fact-scale groupBy(key) (map-side combinable) then a
    key-grain reduce — the diagnostic costs one exchange at key grain,
    which is exactly what the join it guards would pay anyway."""
    t = load(spark, sf_dir)
    kc = t.events.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s = kc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.round(F.percentile("c", F.lit(0.99)), 4).alias("p99_key_rows"),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
        F.round(
            F.max("c") / F.sum("c").cast("double"), 8
        ).alias("top_key_share"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        "p99_key_rows",
        "skew_ratio",
        "top_key_share",
        F.when(F.col("n_keys") <= 10000, "broadcast")
        .when(F.col("skew_ratio") > 20, "salt_or_aqe_skew_join")
        .otherwise("plain_shuffle_join")
        .alias("recommended_strategy"),
    )
