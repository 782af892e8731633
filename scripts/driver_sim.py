"""Full driver simulation: every registered query vs its DuckDB oracle in a
PLAIN SparkSession (the grading driver owns its own session — build_session
confs must not be assumed), judged by `simlib.compare_frames` (column
names, row counts, int-vs-float dtype drift, order-insensitive values).
Writes per-query wall times so slow queries surface before the driver
samples them. Its session keeps Spark's 100-entry generated-class cache,
as a driver's does, so repeated queries recompile their classes.

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
The session runs on local[$SPARK_GRAFT_CPUS] (all cores when unset).
Results go to /tmp/driver_sim_results.json.
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from pyspark.sql import SparkSession  # noqa: E402

from simlib import (  # noqa: E402
    canonical_hash,
    compare_frames,
    duck_connection,
    warm_session,
)

_args = [a for a in sys.argv[1:] if a != "--strict-driver"]
STRICT = "--strict-driver" in sys.argv[1:]
SF_DIR = _args[0] if len(_args) > 0 else "/root/testdata/sf0.01"
ONLY = set(_args[1].split(",")) if len(_args) > 1 else None
spark = SparkSession.builder.master(
    f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
).getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
warm_session(spark, SF_DIR)
import __spark_entry__ as e  # noqa: E402

qs, osql = e.queries(), e.oracle_sql()
con = duck_connection(SF_DIR)
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
