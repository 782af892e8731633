"""Degenerate-input behavior: core operators over zero rows must return
empty results with stable schemas — the guarantee that lets a scheduled
job survive an empty partition day (the reference crashes into NULL state
instead, dataCollector.py:140-163 assumes non-empty metrics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.operators.rollup import ohlc_bars
from crypto_data_ingestion_script_spark.streaming.stateful import (
    EMPTY_STATE,
    fold_pdf,
)


def test_ohlc_on_empty_input(spark, sf_dir):
    t = load(spark, sf_dir)
    empty = t.events.filter(F.lit(False))
    out = ohlc_bars(empty, ts_col="ts", key_col="event_type", value_col="value")
    assert out.count() == 0
    assert set(out.columns) == {
        "hour_ts",
        "event_type",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "avg_price",
        "sample_count",
    }


def test_fold_empty_batch_is_identity():
    import pandas as pd

    pdf = pd.DataFrame({"ts": pd.to_datetime([]), "value": []})
    assert fold_pdf(EMPTY_STATE, pdf) == EMPTY_STATE


def test_two_pass_ranking_on_empty_input(spark, sf_dir):
    """ranking.py helpers over zero rows: empty result, stable schema —
    repartitionByRange + checkpoint + broadcast offsets must all tolerate
    an empty day."""
    from crypto_data_ingestion_script_spark.ranking import (
        global_row_number,
        global_running_sum,
    )

    t = load(spark, sf_dir)
    empty = t.events.select("event_id", "value").filter(F.lit(False))
    rn = global_row_number(empty, "event_id", out_col="rn")
    assert rn.count() == 0 and set(rn.columns) == {"event_id", "value", "rn"}
    rs = global_running_sum(empty, "value", "event_id", out_col="rs")
    assert rs.count() == 0 and set(rs.columns) == {"event_id", "value", "rs"}


def test_dsir_on_empty_corpus(spark, sf_dir):
    """dsir_logweights over zero documents: empty result, stable schema —
    the add-1-smoothed ratio math must not divide by zero or emit NULLs
    when both distributions are empty."""
    from crypto_data_ingestion_script_spark.llm.curation import (
        dsir_logweights,
    )

    t = load(spark, sf_dir)
    out = dsir_logweights(t.documents.filter(F.lit(False)))
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "n_tokens", "dsir_logweight"}


def test_dsir_on_target_free_corpus(spark, sf_dir):
    """A corpus with NO target-lang documents still weights every doc
    (smoothing keeps the target distribution defined as uniform); all
    docs present, no NULL weights."""
    from crypto_data_ingestion_script_spark.llm.curation import (
        dsir_logweights,
    )

    t = load(spark, sf_dir)
    non_en = t.documents.filter(F.col("lang") != "en")
    out = dsir_logweights(non_en).toPandas()
    assert len(out) == non_en.count()
    assert out["dsir_logweight"].notna().all()


def _assert_empty_like_oracle(name, spark, zero_row_sf_dir):
    """Query ``name`` on zero-row tables returns no rows, as its oracle
    does, with the oracle's column names."""
    from crypto_data_ingestion_script_spark.registry import load_all

    from .oracle_diff import duck_connection

    spec = load_all()[name]
    out = spec.fn(spark, zero_row_sf_dir).toPandas()
    con = duck_connection(zero_row_sf_dir)
    try:
        oracle = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    assert len(out) == 0 and len(oracle) == 0
    assert list(out.columns) == list(oracle.columns)


@pytest.mark.parametrize(
    "name",
    [
        "q_ann_ivf",
        "q_ann_lsh",
        "q_cosine_topk",
        "q_crosslingual_mine",
        "q_dedup_embedding",
        "q_knn_classify",
    ],
)
def test_embedding_scans_on_zero_rows(name, spark, zero_row_sf_dir):
    """The probe-vs-corpus embedding scans on zero-row tables: no probe
    rows (a (0, 64) probe matrix) and no corpus batches must give an empty
    result with the oracle's columns, not a numpy crash."""
    _assert_empty_like_oracle(name, spark, zero_row_sf_dir)


@pytest.mark.parametrize(
    "name",
    [
        "q_sink_bronze",
        "q_sink_silver",
        "q_sink_partitioned",
        "q_merge_upsert",
        "q_retention",
        "q_stream_silver",
    ],
)
def test_ingest_read_backs_on_zero_rows(name, spark, zero_row_sf_dir):
    """The bronze/silver round-trips on an empty day: nothing is written,
    and the read-back (declared schema, no footer to infer from) returns
    zero rows with the oracle's columns."""
    _assert_empty_like_oracle(name, spark, zero_row_sf_dir)


def test_silver_ddl_is_the_written_row(spark, sf_dir):
    """SILVER_DDL, which every silver read-back declares, names the columns
    and types that the batch rollup and the stream's foreachBatch write."""
    from crypto_data_ingestion_script_spark.ingest import (
        SILVER_DDL,
        hourly_bars_table,
        silver_rows,
    )
    from crypto_data_ingestion_script_spark.streaming.jobs import (
        tumbling_ohlc_stream,
    )

    def fields(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    t = load(spark, sf_dir)
    ticks = t.events.select(
        "ts", F.col("event_type").alias("symbol"), F.col("value").alias("price")
    )
    declared = fields(spark.createDataFrame([], SILVER_DDL))
    assert fields(hourly_bars_table(ticks)) == declared
    events = t.events.withColumn("ts", F.col("ts").cast("timestamp"))
    bars = tumbling_ohlc_stream(events)
    streamed = silver_rows(
        bars, F.col("w.start"), F.col("event_type").alias("symbol")
    )
    assert fields(streamed) == declared
