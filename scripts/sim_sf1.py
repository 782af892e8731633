#!/usr/bin/env python
"""Per-round sf1 structural sweep → SIM_sf1_r{N}.json (VERDICT r4/r6 task).

Runs the structural LLM / graph / streaming / containment operator set —
the queries whose cost is dominated by real distributed machinery rather
than per-query JVM floor — against benchdata/sf1 (10× key-offset
replication of sf0.1, scripts/make_benchdata.py) in a PLAIN 16 GiB
local[32] session (no bench confs; a huge driver heap distorts timings —
a 100 GiB heap made q_triangles read 57-82 s from GC pathology vs ~7 s
at 16 GiB).

Per query:
- FULL mode: driver-sim strict compare vs the DuckDB oracle on the SAME
  files (scripts/simlib.py semantics — columns, rows, dtype drift,
  order-insensitive values). Used wherever the oracle is non-quadratic
  at sf1 (incl. q_triangles, whose oracle costs ~100 s — run once).
- ROWS_ONLY mode: for ops whose oracle is an all-pairs quadratic join
  (infeasible at 50k docs / 828M output pairs): record row count plus a
  Spark-side order-insensitive value checksum (sum of xxhash64 over all
  columns) so the OUTPUT is still pinned round-over-round — benchdata/sf1
  is deterministic, so any checksum drift is a regression. Expected
  checksums live in ROWS_ONLY; first run of a new query prints the value
  to pin.

Timing: spark_s is min-of-2 warm executions to a count-style action for
ROWS_ONLY (engine throughput; 828M rows cannot be collected) and to
toPandas for FULL (what the grading driver does). The checksum pass is
not timed.

Usage: python scripts/sim_sf1.py [out_json] [only]
       out_json: default /tmp/sim_sf1.json — pass the round-stamped
                 SIM_sf1_rNN.json explicitly for the committed artifact
       only:     optional comma-separated query subset (re-measure just
                 the queries you touched; merges into an existing
                 out_json instead of replacing it)
"""
import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SIM_SF1_DIR", os.path.join(ROOT, "benchdata", "sf1"))
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sim_sf1.json"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

#: FULL-compare queries: oracle is non-quadratic at sf1. Ordered so the
#: two expensive oracles (triangles ~100 s, dedup_near ~40 s) run last —
#: a mid-sweep crash still leaves the cheap rows recorded.
FULL = [
    "q_rrf",
    # r11 additions (statistics batch 1)
    "q_kendall_tau",
    "q_cramers_v",
    "q_jsd_drift",
    "q_theilsen",
    "q_kruskal_wallis",
    # r11 additions (ML evaluation batch)
    "q_avg_precision",
    "q_brier_decomp",
    "q_cohens_kappa",
    "q_mrr",
    "q_lift_curve",
    # r11 additions (finance indicator batch)
    "q_macd",
    "q_macd_seq",
    "q_stochastic",
    "q_donchian",
    "q_rolling_beta",
    # r11 additions (graph + data-quality batch)
    "q_kcore",
    "q_fk_integrity",
    "q_freshness",
    "q_minhash_accuracy",
    # r11 additions (DTW / linear-algebra / risk batch)
    "q_dtw",
    "q_ridge_normal",
    "q_sharpe",
    # r11 additions (survival + mixture batch)
    "q_kaplan_meier",
    "q_gmm_em",
    # r11 additions (skyline / seasonality / burstiness batch)
    "q_skyline_sweep",
    "q_seasonality",
    "q_burstiness",
    # r10 session-2 additions (stats / pipeline / layout / graph /
    # privacy batches)
    "q_anova",
    "q_mann_whitney",
    "q_spearman",
    "q_poisson_bootstrap",
    "q_dedup_url",
    "q_readability",
    "q_hilbert",
    "q_label_prop",
    "q_bellman_ford",
    "q_chunk_cdc",
    "q_kanon",
    "q_dp_noise",
    "q_attribution",
    "q_stream_topk",
    "q_stream_session_timeout",
    "q_auc",
    "q_woe_iv",
    "q_woe_iv_kll",
    "q_embedding_isotropy",
    "q_markov_transitions",
    "q_pacf",
    "q_watermark_lateness",
    "q_rolling_corr",
    "q_skew_stats",
    "q_compaction_plan",
    "q_source_overlap",
    "q_calibration_curve",
    "q_scan_text_roundtrip",
    "q_sink_partitioned",
    "q_stickiness",
    "q_wasserstein",
    "q_lang_confusion",
    "q_ndcg",
    "q_concentration",
    # r9/r10 structural additions (first swept at sf1 in r10): the judge
    # flagged SIM_sf1 as covering only the 295-registry set.
    "q_hits",
    "q_mmr",
    "q_ivfpq_search",
    "q_fastss_join",
    "q_softdedup",
    "q_lang_id_chargram",
    "q_tokenizer_fertility",
    "q_quality_calibration",
    "q_dup_profile",
    "q_length_filter_sweep",
    "q_epoch_plan",
    "q_wordlist_filter",
    "q_ahash",
    "q_audio_fingerprint",
    "q_audio_dedup",
    "q_phash_dedup",
    "q_phash_clusters",
    "q_kcenter",
    "q_weighted_sample",
    "q_mi_features",
    "q_target_encode",
    "q_changepoint",
    "q_sax",
    "q_atr",
    "q_obv",
    "q_interleave",
    "q_ks_drift",
    "q_psi",
    "q_proto_select",
    "q_jl_project",
    "q_pack_stats",
    "q_stream_quality_gate",
    "q_rfm",
    "q_ppl_diff_select",
    "q_pipeline_quality",
    "q_ngram_novelty",
    "q_zipf_fit",
    "q_rake_keywords",
    "q_dataset_card",
    "q_kn_logprob",
    "q_quality_classifier",
    "q_boilerplate_lines",
    "q_crosslingual_mine",
    "q_suffix_lcp",
    "q_bpe_merge",
    "q_bpe_train",
    "q_bpe_encode",
    "q_cms_heavy",
    "q_segment_dedup",
    "q_kmeans_multi",
    "q_bloom_bitmap",
    "q_pq_quantize",
    "q_pq_search",
    "q_pca_power_multi",
    "q_stream_incremental_dedup",
    "q_pca_power_iter",
    "q_perplexity_buckets",
    "q_bloom_screen",
    "q_winnowing",
    "q_span_mask",
    "q_kmeans_iter",
    "q_bigram_logprob",
    "q_substring_dup",
    "q_pagerank",
    "q_bfs",
    "q_weighted_median",
    "q_dedup_fuzzy",
    "q_dedup_clusters",
    "q_dedup_embedding",
    "q_simhash",
    "q_pii_redact",
    "q_ann_ivf",
    "q_ann_lsh",
    "q_cosine_topk",
    "q_dsir_weights",
    "q_dsir_resample",
    "q_domain_cap",
    "q_stream_stream_join",
    "q_stream_left_join",
    "q_stream_chained_stateful",
    "q_dedup_incremental",
    "q_dedup_near",
    "q_pipeline_pretrain",
    "q_active_users",
    "q_apply_in_pandas",
    "q_approx_count_distinct",
    "q_approx_percentile",
    "q_array_agg",
    "q_array_funcs",
    "q_autocorr",
    "q_benford",
    "q_bigrams",
    "q_bit_bool_agg",
    "q_bm25",
    "q_bollinger",
    "q_case_when",
    "q_cast",
    "q_cdc_apply",
    "q_chisq",
    "q_chunk_text",
    "q_cohort",
    "q_compact",
    "q_cond_agg",
    "q_contamination",
    "q_corr_matrix",
    "q_count_distinct",
    "q_cube",
    "q_cusum",
    "q_dataset_split",
    "q_date_arith",
    "q_date_format",
    "q_date_funcs",
    "q_date_trunc",
    "q_decimal_exact",
    "q_decode_audio",
    "q_decode_image",
    "q_dedup_exact",
    "q_distinct",
    "q_dq_audit",
    "q_drawdown",
    "q_dropna",
    "q_ema",
    "q_embed_centroid",
    "q_entropy",
    "q_except",
    "q_exists_correlated",
    "q_explode",
    "q_explode_map",
    "q_explode_outer",
    "q_extract_hour",
    "q_file_metadata",
    "q_fillna",
    "q_filter_nulls",
    "q_filter_pred",
    "q_fingerprint",
    "q_first_last",
    "q_frame_sample",
    "q_funnel",
    "q_funnel_windowed",
    "q_gap_fill",
    "q_gini",
    "q_group_by_all",
    "q_grouping_sets",
    "q_hash",
    "q_hash_spark",
    "q_heavy_hitters",
    "q_higher_order_pred",
    "q_histogram",
    "q_hll_sketch",
    "q_id_gaps",
    "q_incremental_agg",
    "q_incremental_join",
    "q_interpolate",
    "q_intersect",
    "q_interval",
    "q_interval_overlap",
    "q_inverted_index",
    "q_join_anti",
    "q_join_asof",
    "q_join_asof_forward",
    "q_join_asof_nearest",
    "q_join_broadcast",
    "q_join_bucketed",
    "q_join_cross",
    "q_join_inner",
    "q_join_interval",
    "q_join_null_safe",
    "q_join_outer",
    "q_join_range",
    "q_join_salted",
    "q_join_semi",
    "q_json_extract",
    "q_kll_quantiles",
    "q_unigram_lm",
    "q_knn_classify",
    "q_lag",
    "q_lang_id",
    "q_lateral",
    "q_mad_outliers",
    "q_map_funcs",
    "q_map_hof",
    "q_map_in_pandas",
    "q_market_basket",
    "q_masking",
    "q_math_funcs",
    "q_median",
    "q_median_window",
    "q_merge_upsert",
    "q_mix_temperature",
    "q_mode",
    "q_moving_avg",
    "q_moving_avg_time",
    "q_multimodal",
    "q_ngram_jaccard",
    "q_nth_value",
    "q_ohlc_hourly",
    "q_ohlc_reference_parity",
    "q_pack_sequences",
    "q_percentile",
    "q_pipeline_training_data",
    "q_pivot",
    "q_pmi",
    "q_posexplode",
    "q_project",
    "q_quality_score",
    "q_rank",
    "q_rank_dist",
    "q_ratio_to_report",
    "q_realized_vol",
    "q_recursive_cte",
    "q_regexp_all",
    "q_regression",
    "q_repetition_filter",
    "q_retention",
    "q_rollup",
    "q_rsi",
    "q_running_sum",
    "q_salted_agg",
    "q_sample",
    "q_sample_hash",
    "q_sample_stratified",
    "q_scalar_subquery",
    "q_scan_binaryfile",
    "q_scan_csv_roundtrip",
    "q_scan_json_corrupt",
    "q_scan_json_roundtrip",
    "q_scan_orc_roundtrip",
    "q_scan_xml_roundtrip",
    "q_scd2",
    "q_schema_evolution",
    "q_seasonal_baseline",
    "q_session",
    "q_set_ops_all",
    "q_sink_bronze",
    "q_sink_silver",
    "q_skyline",
    "q_sliding",
    "q_snapshot_diff",
    "q_sort",
    "q_sort_within_partitions",
    "q_source_datasource",
    "q_source_ingest",
    "q_source_ingest_retry",
    "q_stats_agg",
    "q_streaks",
    "q_string_funcs",
    "q_surrogate_key",
    "q_text_clean",
    "q_text_stats",
    "q_tfidf",
    "q_theta_sketch",
    "q_to_date",
    "q_token_count",
    "q_topk",
    "q_topk_group",
    "q_topk_ties",
    "q_tpch_q1",
    "q_tpch_q10",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q19",
    "q_tpch_q2",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q22",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_try_arith",
    "q_ttest",
    "q_twap",
    "q_udaf_grouped",
    "q_udf_arrow",
    "q_udf_pandas",
    "q_udf_scalar",
    "q_udtf",
    "q_unigram_logprob",
    "q_union",
    "q_union_by_name",
    "q_unpivot",
    "q_variant",
    "q_vwap",
    "q_window_distinct",
    "q_winsorize",
    "q_wordcount",
    "q_zorder",
    "q_zscore",
    "q_source_datasource_stream",
    "q_stream_dedup",
    "q_stream_dedup_watermark",
    "q_stream_rocksdb",
    "q_stream_session",
    "q_stream_silver",
    "q_stream_stateful",
    "q_stream_static_join",
    "q_stream_tumbling",
    "q_stream_tws",
    "q_triangles",
    "q_jaccard_sweep",
    "q_simhash_join",
    "q_dedup_semantic",
]

#: Quadratic-oracle queries → rows + Spark-side checksum only. Values are
#: the pinned (rows, checksum) from the first round-7 run on the
#: deterministic benchdata/sf1; None means "print to pin".
#: r13 adjudication — why these three (down from six) stay rows+checksum:
#: set-grain oracle collapse (which promoted q_jaccard_sweep,
#: q_simhash_join and q_dedup_semantic to FULL this round) cannot help
#: them because the infeasible object is not the oracle's pair SCAN but
#: the faithful comparison itself:
#: - q_containment_join: the OUTPUT is 828,450,300 pair rows at sf1 —
#:   toPandas/compare of the result is what's infeasible.
#: - q_jaccard_join: OUTPUT is 96,710,400 pair rows — same class.
#: - q_containment_topk: output is bounded (150k rows) but every
#:   faithful doc-grain oracle must rank the FULL qualifying candidate
#:   set (the 828M pairs above) inside the window; the only feasible
#:   SQL mirrors the engine's own group-level top-k decomposition,
#:   which would let a shared mis-derivation pass both sides unnoticed
#:   — independence is worth more than the FULL badge here.
ROWS_ONLY: dict = {
    "q_containment_join": None,
    "q_containment_topk": None,
    "q_jaccard_join": None,
}

PINS_PATH = os.path.join(HERE, "sim_sf1_pins.json")
if os.path.exists(PINS_PATH):
    with open(PINS_PATH) as f:
        # Ignore stale pins for queries since promoted to FULL compare
        # (r13: q_jaccard_sweep, q_simhash_join, q_dedup_semantic got
        # collapsed-grain oracles and left the rows+checksum tier).
        ROWS_ONLY.update({
            k: tuple(v)
            for k, v in json.load(f).items()
            if k in ROWS_ONLY
        })

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from simlib import compare_frames, duck_connection, warm_session  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.driver.memory", "16g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
warm_session(spark, SF_DIR)

import __spark_entry__ as e  # noqa: E402

qs, osql = e.queries(), e.oracle_sql()
con = duck_connection(SF_DIR)

results = {}


def checksum(df):
    """Order-insensitive value checksum: sum of xxhash64 over every
    column, cast to string first so the hash is layout-independent.
    Summed as decimal(38,0) — 828M int64 hashes overflow a long sum
    under ANSI mode; the decimal sum is exact (< 1e28 << 1e38)."""
    # Coalesce NULLs to a sentinel: xxhash64 treats NULL args as no-ops in
    # its seed chain, so without this, rows differing only in WHICH column
    # is NULL would hash identically (ADVICE r7). The sentinel makes NULL
    # position-distinguishing; residual sum-cancellation risk is accepted
    # for a drift detector.
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00N")) for c in df.columns]
    row = df.agg(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row["h"] or 0), int(row["n"])


def session_hygiene():
    """Between queries: drop Python references to finished plans and ask
    both runtimes to collect, so ContextCleaner can unpersist prior
    queries' localCheckpoint blocks — 16 sf1 queries' accumulated state
    otherwise inflates late-ordered queries' times via GC pressure
    (observed: q_triangles 25 s late-in-sweep vs ~7 s fresh-session)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


for name in FULL:
    if ONLY is not None and name not in ONLY:
        continue
    session_hygiene()
    rec = {"mode": "full", "status": "ok", "spark_s": None, "oracle_s": None,
           "rows": None, "err": None}
    try:
        t0 = time.perf_counter()
        s = qs[name](spark, SF_DIR).toPandas()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        s = qs[name](spark, SF_DIR).toPandas()
        rec["spark_s"] = round(min(t1, time.perf_counter() - t0), 2)
        rec["rows"] = len(s)
        t0 = time.perf_counter()
        o = con.execute(osql[name]).fetchdf()
        rec["oracle_s"] = round(time.perf_counter() - t0, 2)
        rec["status"], rec["err"] = compare_frames(s, o)
    except Exception as ex:
        rec["status"] = "crash"
        rec["err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    results[name] = rec
    flag = "" if rec["status"] == "ok" else "  <<< " + rec["status"]
    print(
        f"{name}: spark={rec['spark_s']}s oracle={rec['oracle_s']}s "
        f"rows={rec['rows']}{flag}",
        flush=True,
    )

new_pins = {}
for name, pinned in ROWS_ONLY.items():
    if ONLY is not None and name not in ONLY:
        continue
    session_hygiene()
    reasons = {
        "q_containment_join": "skipped: OUTPUT is 828M pair rows at sf1 "
        "- the comparison, not the oracle scan, is what's infeasible",
        "q_jaccard_join": "skipped: OUTPUT is 97M pair rows at sf1 - "
        "same class as q_containment_join",
        "q_containment_topk": "skipped: bounded output but a faithful "
        "doc-grain oracle must window-rank the 828M-pair candidate set; "
        "the feasible SQL would mirror the engine's own decomposition "
        "and forfeit independence",
    }
    rec = {"mode": "rows+checksum", "status": "ok", "spark_s": None,
           "rows": None, "checksum": None,
           "oracle": reasons.get(
               name,
               "skipped: quadratic all-pairs oracle infeasible at sf1"),
           "err": None}
    try:
        t0 = time.perf_counter()
        n1 = qs[name](spark, SF_DIR).count()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).count()
        rec["spark_s"] = round(min(t1, time.perf_counter() - t0), 2)
        h, n = checksum(qs[name](spark, SF_DIR))
        assert n == n1, f"row count unstable across runs: {n1} vs {n}"
        rec["rows"], rec["checksum"] = n, h
        new_pins[name] = [n, h]
        if pinned is not None and tuple(pinned) != (n, h):
            rec["status"] = "values"
            rec["err"] = f"pinned {pinned} != observed {(n, h)}"
    except Exception as ex:
        rec["status"] = "crash"
        rec["err"] = f"{type(ex).__name__}: {str(ex)[:300]}"
    results[name] = rec
    flag = "" if rec["status"] == "ok" else "  <<< " + rec["status"]
    pin_note = "  (PIN ME)" if pinned is None else ""
    print(
        f"{name}: spark={rec['spark_s']}s rows={rec['rows']} "
        f"checksum={rec['checksum']}{pin_note}{flag}",
        flush=True,
    )

if ONLY is not None and os.path.exists(OUT):
    with open(OUT) as f:
        out = json.load(f)
    out["queries"].update(results)
else:
    out = {
        "session": "plain local[32], spark.driver.memory=16g, default confs",
        "sf_dir": SF_DIR,
        "timing": "min-of-2 warm; FULL=toPandas, rows+checksum=count()",
        "queries": results,
    }
with open(OUT, "w") as f:
    json.dump(out, f, indent=1)
# Pin any rows+checksum query that doesn't have a baseline yet (first
# observation on the deterministic dataset becomes the pin).
pins = {}
if os.path.exists(PINS_PATH):
    with open(PINS_PATH) as f:
        pins = json.load(f)
missing = {k: v for k, v in new_pins.items() if k not in pins}
if missing:
    pins.update(missing)
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1)
    print(f"pinned rows+checksum baselines for {sorted(missing)} -> {PINS_PATH}")
bad = {k: v for k, v in results.items() if v["status"] != "ok"}
print(f"\nSF1 SWEEP DONE: {len(results)} queries, {len(bad)} problems -> {OUT}")
for k, v in bad.items():
    print(f"  {k}: {v['status']} {v['err']}")
