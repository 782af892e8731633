"""Driver-contract robustness: the failure modes and environmental drift a
grading/production driver can hit — wrong table name, missing data dir, a
session whose timezone is not UTC — must fail loudly or normalize, never
silently skew results."""

from __future__ import annotations

import os
import tempfile

import pytest

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.registry import load_all


def test_unknown_table_raises_keyerror(spark, sf_dir):
    t = load(spark, sf_dir)
    with pytest.raises((KeyError, AttributeError)):
        _ = t.no_such_table


def test_missing_sf_dir_fails_loudly(spark):
    from pyspark.errors import AnalysisException

    specs = load_all()
    with pytest.raises(AnalysisException):
        specs["q_tpch_q6"].fn(spark, "/root/testdata/sf_nonexistent").collect()


def test_foreign_session_timezone_does_not_skew_results(spark, sf_dir):
    """The driver owns its session and may sit in any timezone; every
    registered query re-pins UTC at call time, so results must be
    identical under a hostile TZ."""
    specs = load_all()
    baseline = sorted(map(str, specs["q_ohlc_hourly"].fn(spark, sf_dir).collect()))
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = sorted(map(str, specs["q_ohlc_hourly"].fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert shifted == baseline


def test_corrupt_file_quarantine_via_ignore_corrupt(spark, sf_dir):
    """Operational reality at 100 TB: some file in the lake WILL be
    truncated or garbage. Default behavior must fail loudly (silent data
    loss is worse than an error); flipping
    spark.sql.files.ignoreCorruptFiles must read through, losing exactly
    the bad file's rows — the per-file quarantine contract that pairs
    with the q_file_metadata lineage projection."""
    import os
    import shutil
    import tempfile

    import pytest

    from crypto_data_ingestion_script_spark.catalog import load

    lake = tempfile.mkdtemp(prefix="corrupt_lake_")
    good = load(spark, sf_dir).events.select("event_id", "event_type", "value")
    n_good = good.count()
    good.coalesce(2).write.mode("overwrite").parquet(lake)
    with open(os.path.join(lake, "part-junk.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")

    strict = spark.read.schema("event_id bigint, event_type string, value double")
    with pytest.raises(Exception):
        strict.parquet(lake).count()

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        survived = (
            spark.read.schema("event_id bigint, event_type string, value double")
            .parquet(lake)
            .count()
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
        shutil.rmtree(lake, ignore_errors=True)
    assert survived == n_good, (survived, n_good)


#: Session confs a query may set for its own run but must not leave behind,
#: pinned to their Spark defaults so a leak shows whatever ran before.
_PINNED_CONFS = {
    "spark.sql.sources.partitionOverwriteMode": "STATIC",
    "spark.sql.streaming.stateStore.providerClass": "org.apache.spark.sql."
    "execution.streaming.state.HDFSBackedStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "false",
}


def _ckpt_dirs() -> set:
    roots = {tempfile.gettempdir(), "/dev/shm"}
    return {
        os.path.join(root, d)
        for root in roots
        if os.path.isdir(root)
        for d in os.listdir(root)
        if d.startswith("ckpt_")
    }


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _user_functions(spark) -> set:
    return {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()}


@pytest.mark.parametrize(
    "name",
    [
        "q_stream_tumbling",
        "q_stream_silver",
        "q_stream_rocksdb",
        "q_sink_silver",
        "q_merge_upsert",
        "q_stream_incremental_dedup",
        "q_source_datasource_stream",
        "q_grouping_sets",
        "q_scalar_subquery",
        "q_exists_correlated",
        "q_group_by_all",
        "q_recursive_cte",
        "q_lateral",
        "q_udtf",
    ],
)
def test_repeated_calls_leave_no_session_residue(spark, sf_dir, name):
    """A long-lived caller-owned session runs each query many times: a
    query may not leave temp views (a memory sink's view pins its rows),
    functions, streaming checkpoint dirs, or session confs behind."""
    fn = load_all()[name].fn
    for k, v in _PINNED_CONFS.items():
        spark.conf.set(k, v)
    views, ckpts = _temp_views(spark), _ckpt_dirs()
    functions = _user_functions(spark)
    for _ in range(2):
        assert fn(spark, sf_dir).count() > 0
    assert _temp_views(spark) == views
    assert _user_functions(spark) == functions
    assert _ckpt_dirs() - ckpts == set()
    assert {k: spark.conf.get(k) for k in _PINNED_CONFS} == _PINNED_CONFS


def test_caller_view_survives_sql_surface_query(spark, sf_dir):
    """A query written in SQL reads its tables through views of its own:
    the caller's view named like one of them keeps its rows."""
    spark.range(1).createOrReplaceTempView("events")
    try:
        load_all()["q_group_by_all"].fn(spark, sf_dir).collect()
        assert spark.table("events").count() == 1
    finally:
        spark.catalog.dropTempView("events")


def test_catalog_sees_part_files_added_between_calls(spark, sf_dir, tmp_path):
    """A long-lived session reads a directory-layout table afresh on each
    call: a part file added after the first call is in the second."""
    import shutil

    table = tmp_path / "orders.parquet"
    table.mkdir()
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), table / "part-0.parquet")
    first = load(spark, str(tmp_path)).orders.count()
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), table / "part-1.parquet")
    assert load(spark, str(tmp_path)).orders.count() == 2 * first > 0


def test_session_confs_restores_under_concurrent_swaps():
    """Threads that swap the same session conf at once each see their own
    value inside the block, and the conf reads as before once all are
    done (an unlocked save/set/restore leaves one thread's value behind)."""
    import sys
    import types
    from concurrent.futures import ThreadPoolExecutor

    from crypto_data_ingestion_script_spark.session import session_confs

    class Conf(dict):
        def get(self, k, default=None):
            return super().get(k, default)

        def set(self, k, v):
            self[k] = v

        def unset(self, k):
            self.pop(k, None)

    spark = types.SimpleNamespace(conf=Conf(k="orig"))

    def swap(i):
        for _ in range(200):
            with session_confs(spark, {"k": str(i), "new": str(i)}):
                assert (spark.conf.get("k"), spark.conf.get("new")) == (str(i),) * 2

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            for f in [pool.submit(swap, i) for i in range(16)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert dict(spark.conf) == {"k": "orig"}
