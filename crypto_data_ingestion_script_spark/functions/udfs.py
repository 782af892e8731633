"""UDF / UDAF / UDTF surface (SURVEY §2.K).

Policy: UDFs are the slow path — every operator elsewhere in this engine
uses built-ins. This module exists to prove the extension surface works,
with the preference order the 100 TB design demands:

1. built-in expression (everything else in the engine)
2. Arrow-vectorized pandas UDF (batched, columnar transfer)
3. applyInPandas / mapInPandas (grouped / partition-wise batches)
4. row-at-a-time Python UDF — demonstrated once, never used in hot paths

Each declared query's oracle states the equivalent SQL expression, so the
UDF results stay hash-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from ..catalog import load
from ..registry import query


@query(
    "q_udf_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS band
    FROM orders
    """,
    tags=("udf",),
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the documented slow path; equivalent
    expression in q_case_when runs ~100× faster JVM-side)."""
    t = load(spark, sf_dir)

    @F.udf(returnType=StringType())
    def band(price: float) -> str:
        if price >= 200000:
            return "large"
        if price >= 100000:
            return "medium"
        return "small"

    return t.orders.select("o_orderkey", band("o_totalprice").alias("band"))


@query(
    "q_udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    """,
    tags=("udf",),
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF — Arrow columnar batches, numpy math;
    identical arithmetic to the SQL expression so it hash-matches."""
    t = load(spark, sf_dir)

    @pandas_udf(DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    return t.lineitem.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "q_udaf_grouped",
    oracle="""
    SELECT event_type,
           round(avg(value), 8)                          AS mean_value,
           CASE WHEN count(*) > 1
                THEN round(sqrt(sum((value - m) * (value - m))
                                / (count(*) - 1)), 8)
                END                                      AS std_value
    FROM (SELECT event_type, value,
                 avg(value) OVER (PARTITION BY event_type) AS m
          FROM events)
    GROUP BY event_type
    """,
    tags=("udf", "udaf"),
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF (mean + sample stddev). The oracle computes
    the same two-pass stddev, sidestepping FP drift of one-pass formulas."""
    t = load(spark, sf_dir)

    # Both UDAF outputs round 8dp in lockstep with the oracle: pandas'
    # pairwise-summed mean differs from DuckDB's accumulation at ulp
    # grain (rounding-contract lint, r12).
    @pandas_udf(DoubleType())
    def mean_udaf(v: pd.Series) -> float:
        return round(float(v.mean()), 8)

    @pandas_udf(DoubleType())
    def std_udaf(v: pd.Series) -> float:
        if len(v) <= 1:
            return None
        m = v.mean()
        return round(float(((v - m) ** 2).sum() / (len(v) - 1)) ** 0.5, 8)

    return t.events.groupBy("event_type").agg(
        mean_udaf("value").alias("mean_value"),
        std_udaf("value").alias("std_value"),
    )


@query(
    "q_apply_in_pandas",
    oracle="""
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d,
           round(value - avg(value) OVER (PARTITION BY event_type,
                                          CAST(ts AS DATE)), 8)
             AS value_centered,
           event_id
    FROM events
    """,
    tags=("udf", "grouped-map"),
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-(event_type, day) mean-centering — a
    custom transform that genuinely needs whole-group context. Groups are
    bounded (one key-day), so group-at-a-time memory is safe at scale.
    Centered values round to 8dp on BOTH engines: the group means differ
    between pandas and DuckDB only by summation order (~1e-14), but a raw
    centered value can land exactly on a 6dp rounding boundary, flipping
    a downstream 6dp canonical hash while tolerance compares pass (found
    by --strict-driver, r10)."""
    t = load(spark, sf_dir)
    with_day = t.events.select(
        "event_id", "event_type", F.to_date("ts").alias("d"), "value"
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["value_centered"] = pdf["value"] - pdf["value"].mean()
        return pdf[["event_type", "d", "value_centered", "event_id"]]

    out = with_day.groupBy("event_type", "d").applyInPandas(
        center, schema="event_type string, d date, value_centered double, event_id bigint"
    )
    return out.withColumn("d", F.col("d").cast("timestamp_ntz")).withColumn(
        "value_centered", F.round("value_centered", 8)
    )


@query(
    "q_map_in_pandas",
    oracle="""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
    FROM documents WHERE length(text) > 100
    """,
    tags=("udf", "map-partitions"),
)
def q_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: partition-wise batch iterator (the custom-scan/operator
    extension point; used for real by sources/rest.py and llm/multimodal.py).
    Filters inside the iterator to prove 1→0..N row mapping."""
    t = load(spark, sf_dir)

    def batch_len(batches):
        for pdf in batches:
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text_len": pdf["text"].str.len()}
            )
            yield out[out["text_len"] > 100]

    return t.documents.mapInPandas(batch_len, schema="doc_id bigint, text_len bigint")


@query(
    "q_udtf",
    oracle="""
    SELECT doc_id,
           unnest(range(len(str_split(text, ' ')))) AS pos,
           unnest(str_split(text, ' '))             AS token
    FROM documents
    WHERE doc_id < 50
    """,
    tags=("udf", "udtf"),
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function, SURVEY §2.K): one row in, N
    rows out with per-call Python state — the escape hatch when a generator
    genuinely needs imperative logic. This one is deliberately SQL-
    expressible (token split with ordinals) so the oracle can hash it;
    the DuckDB side zips two unnests. LATERAL-joined against the documents
    table, so the UDTF runs distributed per input partition — at scale the
    cost model is identical to any Arrow-batched Python stage. The UDTF is
    called directly, never registered, so no function is left in the
    caller's session. Prefer
    posexplode(split(...)) (JVM-side, q_posexplode) when expressions
    suffice; reference test parity per SURVEY §5."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class TokenSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, piece in enumerate(text.split(" ")):
                yield i, piece

    d = load(spark, sf_dir).documents.filter(F.col("doc_id") < 50).alias("d")
    return d.lateralJoin(TokenSplit(F.col("d.text").outer()).alias("s")).select(
        "d.doc_id", "s.pos", "s.token"
    )


@query(
    "q_udf_arrow",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * x))), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("udf", "arrow"),
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the lowest-overhead Python hop: RecordBatches pass
    straight through (no pandas conversion), numpy works on zero-copy
    views. The right tier for dense vector math over wide batches; the
    rounding absorbs summation-order drift vs the oracle's sequential
    fold (same contract as q_cosine_topk)."""
    import pyarrow as pa

    t = load(spark, sf_dir)

    def norms(batches):
        import numpy as np

        for batch in batches:
            ids = batch.column(0).to_numpy()
            mat = np.asarray(
                batch.column(1).to_pylist(), dtype=np.float64
            )
            out = np.round(np.sqrt((mat * mat).sum(axis=1)), 6)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(out)], names=["vec_id", "l2_norm"]
            )

    return (
        t.embeddings.select("vec_id", "embedding")
        .mapInArrow(norms, schema="vec_id bigint, l2_norm double")
    )
