#!/usr/bin/env python
"""Repo-wide executed-plan audit (round-7 verdict practice, now a
committed tool): build EVERY registered query at a small scale factor and
scan its physical plan for the four scale-killer patterns —

- ``BatchEvalPython`` / ``ArrowEvalPython``: row-at-a-time / arrow Python
  eval in the plan (only the declared UDF-surface queries may carry one);
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: unbounded pair
  enumeration (only q_join_cross by contract, or 1-row scalar crossJoins);
- ``Exchange rangepartitioning``: a global sort — fine on summary-scale
  output, a scale-killer on fact-scale output (reviewed by hand below);
- ``InMemoryTableScan`` on nothing (sanity: no stray .cache()).

Prints one line per query that hits any pattern, plus a JSON summary to
the optional argv[1]. Plan inspection only builds the DataFrame (lazy) —
streaming queries DO execute their availableNow batch on construction,
so the audit takes a few minutes.

Runs on ``local[$SPARK_GRAFT_CPUS]`` (``session.build_session``).

Usage: python scripts/plan_audit.py [out_json] [sf_dir]
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit.json"
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

PATTERNS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange rangepartitioning",
    "InMemoryTableScan",
)

from crypto_data_ingestion_script_spark.session import build_session  # noqa: E402

spark = build_session("plan-audit")
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()
spark.range(64).repartition(8).mapInPandas(
    lambda it: it, schema="id bigint"
).count()
spark.read.parquet(f"{SF_DIR}/region.parquet").count()

import __spark_entry__ as e  # noqa: E402

qs = e.queries()
hits: dict = {}
errs: dict = {}
for name in sorted(qs):
    try:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception as ex:  # noqa: BLE001 - audit records, never aborts
        errs[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
        continue
    found = {p: plan.count(p) for p in PATTERNS if p in plan}
    if found:
        hits[name] = found
        print(f"{name}: {found}", flush=True)

out = {
    "sf_dir": SF_DIR,
    "n_queries": len(qs),
    "n_with_hits": len(hits),
    "hits": hits,
    "errors": errs,
}
with open(OUT, "w") as f:
    json.dump(out, f, indent=1)
print(
    f"\nPLAN AUDIT DONE: {len(qs)} queries, {len(hits)} with pattern hits, "
    f"{len(errs)} errors -> {OUT}"
)
