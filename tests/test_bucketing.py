"""Bucketed co-located join: pre-shuffle both sides into the same bucket
layout at write time, then join with NO Exchange on either side — at 100 TB
this converts every repeated fact-fact join on the same key from a full
shuffle into a local merge (the write cost is paid once, the shuffle saving
is per-query). Plan-asserted here because the property is silent: a config
regression (bucketing disabled, mismatched bucket counts) falls back to
shuffle joins without failing any correctness test."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.plans.explain import _node_count


@pytest.fixture(scope="module")
def bucketed_db(spark, sf_dir):
    loc = tempfile.mkdtemp(prefix="bucketed_wh_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_test LOCATION '{loc}'")
    t = load(spark, sf_dir)
    (
        t.orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("bucketed_test.orders_b")
    )
    (
        t.lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("bucketed_test.lineitem_b")
    )
    yield "bucketed_test"
    spark.sql("DROP DATABASE bucketed_test CASCADE")
    shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, bucketed_db):
    o = spark.table(f"{bucketed_db}.orders_b")
    l = spark.table(f"{bucketed_db}.lineitem_b")
    joined = o.join(l, o.o_orderkey == l.l_orderkey).select(
        "o_orderkey", "l_linenumber", "l_quantity", "o_totalprice"
    )
    assert _node_count(joined, "Exchange") == 0, "bucketed join still shuffled"


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_db):
    t = load(spark, sf_dir)
    plain = (
        t.orders.join(t.lineitem, t.orders.o_orderkey == t.lineitem.l_orderkey)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
        )
        .collect()[0]
    )
    o = spark.table(f"{bucketed_db}.orders_b")
    l = spark.table(f"{bucketed_db}.lineitem_b")
    bucketed = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()[0]
    )
    assert plain["n"] == bucketed["n"]
    assert abs(plain["qty"] - bucketed["qty"]) < 1e-6


def test_bucketed_agg_avoids_shuffle(spark, bucketed_db):
    """Aggregation grouped on the bucket key also needs no Exchange: bucket
    layout satisfies the hash-partitioning requirement."""
    l = spark.table(f"{bucketed_db}.lineitem_b")
    agg = l.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty"))
    assert _node_count(agg, "Exchange") == 0, "bucketed groupBy still shuffled"


def test_bucketed_query_tables_are_private_to_the_application(spark, sf_dir):
    """q_join_bucketed writes its tables under the application's own
    scratch dir: at a host-wide fixed path, a second Spark process running
    it over the same sf_dir overwrites the part files this one reads."""
    from pyspark import SparkFiles

    from crypto_data_ingestion_script_spark.registry import load_all

    load_all()["q_join_bucketed"].fn(spark, sf_dir).collect()
    root = SparkFiles.getRootDirectory()
    dbs = [d.name for d in spark.catalog.listDatabases("bucketed_q_*")]
    tables = [(db, t.name) for db in dbs for t in spark.catalog.listTables(db)]
    assert tables
    for db, name in tables:
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {db}.{name}")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        )
        assert loc.removeprefix("file:").startswith(root + os.sep), loc
