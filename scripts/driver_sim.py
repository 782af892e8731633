"""Full driver simulation: every registered query vs its DuckDB oracle in a
PLAIN SparkSession (the grading driver owns its own session — build_session
confs must not be assumed), with the driver's strict comparison semantics:
column names, row counts, int-vs-float dtype drift, and order-insensitive
values. Writes per-query wall times so slow queries surface before the
driver samples them. Its session keeps Spark's 100-entry generated-class
cache, as a driver's does, so repeated queries recompile their classes.

Usage: python scripts/driver_sim.py [sf_dir] [only] [--strict-driver]
  sf_dir: default /root/testdata/sf0.01
  only:   optional comma-separated query names (subset sweep for fast
          verification of just-touched operators)
  --strict-driver: additionally run the driver-style canonical VALUE-HASH
          comparison (simlib.canonical_hash — sorted columns, sorted rows,
          6dp float canonicalization) next to compare_frames, recording
          per-query hash_match so the 250+ queries the real driver never
          sampled are checked under the driver's own comparison form, not
          only the tolerance-based lookalike. Divergences between the two
          verdicts are the artifact's payload (expected: none).
"""
import json, time, traceback
from pyspark.sql import SparkSession
import sys as _s
_args = [a for a in _s.argv[1:] if a != "--strict-driver"]
STRICT = "--strict-driver" in _s.argv[1:]
SF_DIR = _args[0] if len(_args) > 0 else "/root/testdata/sf0.01"
ONLY = set(_args[1].split(",")) if len(_args) > 1 else None
spark = SparkSession.builder.master("local[8]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
# Warm the JVM + python-worker pool once so the alphabetically-first query's
# recorded time is engine time, not cold-start (same approach as bench.py).
spark.range(1_000_000).selectExpr("sum(id) s").collect()
spark.range(64).repartition(8).mapInPandas(lambda it: it, schema="id bigint").count()
# Warm the parquet reader code path on the 5-row region dim: the JVM's first
# parquet scan pays ~2s of class loading that otherwise lands on whichever
# query sorts first alphabetically (q_active_users in the r3 artifact).
spark.read.parquet(f"{SF_DIR}/region.parquet").count()
# ... and the parquet WRITER (output committer, codec, Hadoop FS classes):
# the first write costs ~1s of class loading otherwise billed to the
# alphabetically-first sink query (q_compact / q_merge_upsert / q_sink_*).
import tempfile as _tf
spark.read.parquet(f"{SF_DIR}/region.parquet").write.mode("overwrite").parquet(
    _tf.mkdtemp(prefix="warm_write_") + "/region"
)
# Warm the Structured Streaming machinery (offset log, state store, memory
# sink classes) on the 5-row dim so the first streaming query's recorded
# time is engine time, not ~3.5s of class loading.
import os as _os, tempfile, uuid
_rpath = f"{SF_DIR}/region.parquet"
_rdr = spark.readStream.schema(spark.read.parquet(_rpath).schema)
if _os.path.isdir(_rpath):
    _warm_src = _rdr.parquet(_rpath)
else:
    _warm_src = _rdr.option("pathGlobFilter", "region.parquet").parquet(SF_DIR)
_sq = (
    _warm_src.groupBy("r_regionkey").count()
    .writeStream.outputMode("complete").format("memory")
    .queryName("warm_" + uuid.uuid4().hex[:6])
    .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_warm_"))
    .trigger(availableNow=True).start()
)
_sq.awaitTermination()
# ... and the stream-stream join machinery (SymmetricHashJoinStateManager,
# append-mode watermark bookkeeping) — otherwise the alphabetically-first
# join query (q_stream_chained_stateful) absorbs ~2s of its class loading.
from pyspark.sql import functions as _F
_wa = _warm_src.select("r_regionkey", _F.current_timestamp().alias("ts_a")).withWatermark("ts_a", "1 minute")
_wb = _warm_src.select(_F.col("r_regionkey").alias("rk_b"), _F.current_timestamp().alias("ts_b")).withWatermark("ts_b", "1 minute")
_sq = (
    _wa.join(_wb, (_wa.r_regionkey == _wb.rk_b) & (_wa.ts_a >= _wb.ts_b - _F.expr("INTERVAL 1 MINUTE")) & (_wa.ts_a <= _wb.ts_b))
    .writeStream.outputMode("append").format("memory")
    .queryName("warm_" + uuid.uuid4().hex[:6])
    .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_warm_"))
    .trigger(availableNow=True).start()
)
_sq.awaitTermination()
# ... and the Python DataSource runner (plan serialization + python-source
# worker infra): first use costs ~4.5s, warm reads are 0.4s. One-tick
# batch + stream drains against the sim_ticks source.
import sys as _sys, os as _os2
_sys.path.insert(0, _os2.path.dirname(_os2.path.dirname(_os2.path.abspath(__file__))))
from crypto_data_ingestion_script_spark.sources.custom import register as _reg_ds
_reg_ds(spark)
spark.read.format("sim_ticks").option("n_ticks", "1").load().count()
_sq = (
    spark.readStream.format("sim_ticks").option("max_ticks", "1").load()
    .writeStream.outputMode("append").format("memory")
    .queryName("warm_" + uuid.uuid4().hex[:6])
    .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_warm_"))
    .trigger(availableNow=True).start()
)
_sq.awaitTermination()
import os, sys; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
qs, osql = e.queries(), e.oracle_sql()
import duckdb, pandas as pd, numpy as np
import pandas.api.types as pt
from simlib import compare_frames, canonical_hash
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    # single-file layout (testdata) or directory-of-part-files (benchdata)
    p = f"{SF_DIR}/{t}.parquet"
    src = f"{p}/*.parquet" if _os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
results = {}
for name in sorted(qs):
    if ONLY is not None and name not in ONLY:
        continue
    rec = {"status": "ok", "spark_s": None, "oracle_s": None, "rows": None, "err": None}
    try:
        t0 = time.perf_counter()
        s = qs[name](spark, SF_DIR).toPandas()
        rec["spark_s"] = round(time.perf_counter() - t0, 2)
        rec["rows"] = len(s)
        t0 = time.perf_counter()
        o = con.execute(osql[name]).fetchdf()
        rec["oracle_s"] = round(time.perf_counter() - t0, 2)
        # Shared comparison semantics (scripts/simlib.py) — identical
        # check in the sf0.01 full sweep and the sf1 structural sweep.
        rec["status"], rec["err"] = compare_frames(s, o)
        if STRICT:
            rec["hash_match"] = canonical_hash(s) == canonical_hash(o)
            if rec["hash_match"] != (rec["status"] == "ok"):
                rec["strict_divergence"] = (
                    f"compare_frames={rec['status']} vs "
                    f"hash_match={rec['hash_match']}"
                )
    except Exception as ex:
        rec["status"] = "crash"; rec["err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    results[name] = rec
    flag = "" if rec["status"] == "ok" else "  <<< " + rec["status"]
    print(f"{name}: spark={rec['spark_s']}s oracle={rec['oracle_s']}s rows={rec['rows']}{flag}", flush=True)
with open("/tmp/driver_sim_results.json", "w") as f:
    json.dump(results, f, indent=1)
bad = {k: v for k, v in results.items() if v["status"] != "ok"}
print(f"\nSWEEP DONE: {len(results)} queries, {len(bad)} problems")
if STRICT:
    div = {k: v["strict_divergence"] for k, v in results.items()
           if "strict_divergence" in v}
    print(f"STRICT-DRIVER: {len(div)} verdict divergences "
          f"(compare_frames vs canonical hash)")
    for k, d in div.items():
        print(f"  {k}: {d}")
for k, v in bad.items():
    print(f"  {k}: {v['status']} {v['err']}")
slow = sorted(results.items(), key=lambda kv: -(kv[1]["spark_s"] or 0))[:10]
print("slowest spark:", [(k, v["spark_s"]) for k, v in slow])
slow_o = sorted(results.items(), key=lambda kv: -(kv[1]["oracle_s"] or 0))[:5]
print("slowest oracle:", [(k, v["oracle_s"]) for k, v in slow_o])
