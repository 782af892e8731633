"""Rounding-contract lint (VERDICT r11 task 2): flag every registered
query that EMITS an unrounded double column.

The r10 postmortem class: six hash divergences, all one shape — a
DoubleType aggregate emitted raw, agreeing with the oracle at the
canonical hash's 6dp canonicalization only until a value lands near a
6dp boundary where Spark and DuckDB differ at ulp level. The repo's
contract is therefore: every emitted float column is either (a) rounded
in LOCKSTEP on both engines (F.round(x, k) / round(x, k), k <= 8), or
(b) EXACT — bit-identical on both engines by construction (integer
counts cast to double, dyadic rationals k/2^m with short decimal forms,
raw parquet passthrough) — and the exactness must be adjudicated here,
not assumed.

Detection is dynamic, not static: a value produced by F.round(x, k<=8)
is invariant under round(., 8) (an 8dp-representable decimal), so any
float column containing values NOT invariant under round(., 8) was
emitted unrounded. Exact-by-construction emitters also satisfy the
invariant when their values are short decimals (counts, 2dp prices,
k/32 match fractions); the residue that does not is exactly the risk
class. Flagged queries must be fixed (round 8dp in lockstep) or added
to WHITELIST with a written exactness rationale; the lint exits nonzero
while any flagged query is unadjudicated, and the artifact
(ROUNDING_LINT_r{N}.json) lists every emitter either way.

Runs on ``local[$SPARK_GRAFT_CPUS]`` (``session.build_session``).

Usage: python scripts/rounding_lint.py [sf_dir] [out.json]
  sf_dir: default /root/testdata/sf0.01 (the sweep's correctness scale)
"""
from __future__ import annotations

import json
import math
import sys

import numpy as np
import pandas.api.types as pt

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/rounding_lint.json"

#: Adjudicated-exact emitters: {query: {column: rationale}}. A column
#: lands here ONLY with a written argument that both engines emit the
#: bit-identical double (no floating-point operation whose result
#: depends on summation order or libm). Class tags:
#:
#: EXD — order-independent DECIMAL(18,6) accumulation (functions/
#:   exact.py dsum): the emitted double is the nearest double to the
#:   exact decimal sum, bit-identical on both engines regardless of
#:   partitioning. Appears flagged only because the detector's
#:   round(.,8) invariance check is magnitude-limited past ~9e7 (the
#:   1e8 scaling exceeds the 53-bit mantissa).
#: EXR — one IEEE division of a bit-identical exact-decimal sum
#:   (functions/exact.py davg) by an engine-identical exact count:
#:   identical operands, one deterministic operation.
#: ROW — per-row deterministic IEEE arithmetic on identical operands
#:   (single +,-,*,/, abs, or correctly-rounded sqrt; no reduction,
#:   no libm transcendental).
#: RAT — exact rational: single division of engine-identical integers
#:   (rank statistics).
#: INT — integer-exact numerator (integer sum, exact in double below
#:   2^53) divided by an exact count: one deterministic division.
EXD = (
    "EXD: exact decimal(18,6) accumulation, order-independent and "
    "bit-identical cross-engine (functions/exact.py dsum)"
)
EXR = (
    "EXR: IEEE division of a bit-identical exact decimal sum by an "
    "exact count (functions/exact.py davg)"
)
ROW = (
    "ROW: per-row deterministic IEEE arithmetic on identical operands "
    "- no reduction, no libm transcendental"
)
RAT = "RAT: single division of engine-identical integers"
INT = "INT: integer-exact sum (below 2^53) / exact count"
WHITELIST: dict = {
    "q_ohlc_hourly": {"avg_price": EXR},
    "q_ohlc_reference_parity": {"avg_price": EXR},
    "q_sink_silver": {"avg_price": EXR},
    "q_merge_upsert": {"avg_price": EXR},
    "q_stream_tumbling": {"avg_price": EXR},
    "q_stream_silver": {"avg_price": EXR},
    "q_stream_rocksdb": {"avg_price": EXR},
    "q_moving_avg": {"avg_price": EXR},
    "q_rank": {"avg_price": EXR, "prnk": RAT, "cdist": RAT},
    "q_rank_dist": {"pr": RAT, "cd": RAT},
    "q_sliding": {"avg_value": EXR},
    "q_extract_hour": {"avg_value": EXR},
    "q_salted_agg": {"avg_value": EXR, "sum_value": EXD},
    "q_incremental_agg": {"avg_value": EXR, "total_value": EXD},
    "q_incremental_join": {"revenue": EXD},
    "q_join_broadcast": {"total_bal": EXD},
    "q_stream_static_join": {"total_value": EXD},
    "q_cube": {"avg_disc": EXR},
    "q_cond_agg": {"avg_qty_f": EXR, "disc_price": EXD},
    "q_rollup": {"sum_price": EXD},
    "q_tpch_q1": {
        "sum_base_price": EXD,
        "sum_disc_price": EXD,
        "sum_charge": EXD,
        "avg_qty": EXR,
        "avg_price": EXR,
        "avg_disc": EXR,
    },
    "q_tpch_q3": {"revenue": EXD},
    "q_tpch_q5": {"revenue": EXD},
    "q_tpch_q6": {"revenue": EXD},
    "q_tpch_q7": {"revenue": EXD},
    "q_tpch_q8": {"mkt_share": EXR},
    "q_tpch_q9": {"sum_profit": EXD},
    "q_tpch_q10": {"revenue": EXD},
    "q_tpch_q11": {"part_value": EXD},
    "q_tpch_q14": {"promo_revenue": EXR},
    "q_tpch_q15": {"total_rev": EXD},
    "q_tpch_q17": {"avg_yearly": EXR},
    "q_tpch_q19": {"revenue": EXD},
    "q_tpch_q22": {"totacctbal": EXD},
    "q_vwap": {"vwap": EXR},
    "q_cast": {"value_f32": ROW + " (float32 narrowing cast)"},
    "q_lag": {"bar_change": ROW + " (one subtraction, ordered window)"},
    "q_math_funcs": {
        "disc_dev": ROW + " (abs of one subtraction)",
        "price_sqrt": ROW + " (sqrt is IEEE-754 correctly rounded)",
    },
    "q_try_arith": {"safe_ratio": ROW + " (one division)"},
    "q_udf_pandas": {
        "charge": ROW + " (product chain, identical evaluation order)"
    },
    "q_text_stats": {"avg_chars": INT, "avg_tokens": INT},
}


#: EXD/EXR whitelist entries whose returned DataFrame is a read-back of a
#: materialized sink (memory table, JDBC round-trip, parquet re-read): the
#: decimal cast ran inside the upstream write job, so the RETURNED plan
#: cannot show it. Every other EXD/EXR entry must carry the cast in its
#: analyzed plan — the machine check ADVICE r12 asked for, since the
#: round(.,8) invariance detector cannot fire at money magnitude and a
#: regression dropping the cast would otherwise ride the stale whitelist.
PLAN_CHECK_EXEMPT: dict = {
    "q_merge_upsert": "returned plan is the silver parquet re-read; the "
    "decimal cast runs in the upstream MERGE build job",
    "q_sink_silver": "returned plan is the silver parquet re-read; the "
    "cast runs in the sink write job",
    "q_stream_tumbling": "returned plan is the memory-sink table; the "
    "cast runs inside the streaming aggregation",
    "q_stream_silver": "returned plan is the memory/parquet sink "
    "read-back; the cast runs inside the streaming aggregation",
    "q_stream_rocksdb": "returned plan is the memory-sink table; the "
    "cast runs inside the streaming aggregation",
    "q_stream_static_join": "returned plan is the memory-sink table; "
    "the cast runs inside the streaming aggregation",
}


def _plan_has_decimal_cast(df) -> bool:
    """True if the analyzed plan applies a DECIMAL(18,6) accumulation
    anywhere in the tree (functions/exact.py dsum/davg signature)."""
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    return "decimal(18,6)" in plan


def _unrounded(vals: np.ndarray) -> tuple[int, float | None]:
    """Count finite values not invariant under round(., 8)."""
    finite = vals[np.isfinite(vals)]
    if len(finite) == 0:
        return 0, None
    bad = finite[np.round(finite, 8) != finite]
    if len(bad) == 0:
        return 0, None
    return int(len(bad)), float(bad[0])


def main() -> int:
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from crypto_data_ingestion_script_spark.session import build_session
    from crypto_data_ingestion_script_spark.sources.custom import register

    spark = build_session("rounding-lint")
    spark.sparkContext.setLogLevel("ERROR")

    register(spark)
    import __spark_entry__ as e

    qs = e.queries()
    flagged: dict = {}
    whitelisted: dict = {}
    clean = 0
    errors: dict = {}
    plan_failures: dict = {}
    for name in sorted(qs):
        try:
            df = qs[name](spark, SF_DIR)
            wl_exact = {
                c: r
                for c, r in WHITELIST.get(name, {}).items()
                if r.startswith(("EXD", "EXR"))
            }
            if wl_exact and name not in PLAN_CHECK_EXEMPT:
                if not _plan_has_decimal_cast(df):
                    plan_failures[name] = sorted(wl_exact)
            pdf = df.toPandas()
        except Exception as ex:  # noqa: BLE001 - lint must survive one bad op
            errors[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
            continue
        cols: dict = {}
        for c in pdf.columns:
            if not pt.is_float_dtype(pdf[c]):
                continue
            n_bad, example = _unrounded(
                pdf[c].to_numpy(dtype="float64", na_value=math.nan)
            )
            if n_bad:
                cols[c] = {"n_unrounded": n_bad, "example": example}
        if not cols:
            clean += 1
            continue
        wl = WHITELIST.get(name, {})
        adjudicated = {c: wl[c] for c in cols if c in wl}
        remaining = {c: cols[c] for c in cols if c not in wl}
        if adjudicated:
            whitelisted[name] = adjudicated
        if remaining:
            flagged[name] = remaining
    artifact = {
        "sf_dir": SF_DIR,
        "n_queries": len(qs),
        "n_clean": clean,
        "n_errors": len(errors),
        "errors": errors,
        "whitelisted": whitelisted,
        "flagged": flagged,
        "plan_check_exempt": PLAN_CHECK_EXEMPT,
        "plan_failures": plan_failures,
    }
    with open(OUT, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(
        f"ROUNDING LINT: {len(qs)} queries, {clean} clean, "
        f"{len(whitelisted)} whitelisted, {len(flagged)} FLAGGED, "
        f"{len(plan_failures)} PLAN-FAILED, {len(errors)} errors -> {OUT}"
    )
    for name, cols in sorted(flagged.items()):
        print(f"  FLAGGED {name}: {cols}")
    for name, cols in sorted(plan_failures.items()):
        print(f"  PLAN-FAILED {name}: EXD/EXR cols {cols} but no "
              "decimal(18,6) cast in the analyzed plan")
    return 1 if flagged or plan_failures or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
