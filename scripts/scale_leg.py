#!/usr/bin/env python
"""sf1 → sf10 scale leg for the heavy curation ops (VERDICT r8 task 1).

Runs the five heaviest committed operators at benchdata/sf1 AND
benchdata/sf10 (100x key-offset replication of sf0.1 — one more decade
past the sf0.01→sf1 marginal-cost curves in BASELINE.md), recording
per-stage walls and the CANDIDATE counts that certify the banding /
bucketing math stays subquadratic:

- q_dedup_near      — distinct-set collapse, LSH band candidates, full
                      pair output. Distinct CONTENT is scale-invariant
                      under replication, so sets/candidates must stay
                      ~flat while member depth grows 10x.
- q_simhash_join    — fingerprint pass, band-bucket candidates, output.
- q_suffix_lcp      — suffix explode, prefix-bucket adjacency, pairs.
- q_containment_*   — group-grain build/candidates/verify + topk
                      end-to-end. The FULL join's member expansion is
                      sum(|ma|x|mb|) rows — data-quadratic in replica
                      depth (~83G rows at sf10), so the leg records the
                      contract size exactly (cheap aggregate over the
                      verified group pairs) and materializes the
                      expansion only when it is under MAX_EXPAND rows.
- q_pipeline_pretrain — end-to-end wall (its stage decomposition lives
                      in scripts/pipeline_decomp.py, PIPE_SCALES env).

Replication semantics note (matters for reading the counts): replicas
duplicate document CONTENT, so every distinct text has >=100 copies at
sf10 — duplicate-cluster depth, and hence any PAIR-list output, grows
QUADRATICALLY in the replica count by the data's own math (100 copies =
4950 within-pairs vs 45 at 10 copies). The engine-side claim under test
is that everything BEFORE output expansion — collapse, banding,
candidate enumeration, verification — scales with distinct content +
corpus size, not with pair count.

Usage: python scripts/scale_leg.py [out_json]   (~a few minutes)
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_leg.json"
MAX_EXPAND = int(os.environ.get("MAX_EXPAND", 2_000_000_000))

from pyspark.sql import SparkSession, Window, functions as F  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.driver.memory", "32g")
    .config("spark.sql.shuffle.partitions", "64")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id) s").collect()
spark.range(64).repartition(8).mapInPandas(lambda it: it, schema="id bigint").count()

from crypto_data_ingestion_script_spark.catalog import load  # noqa: E402
from crypto_data_ingestion_script_spark.llm.dedup import (  # noqa: E402
    LCP_MIN,
    SUFFIX_CAP,
    _containment_candidates,
    _containment_sets_verified,
    _minhash_bands,
    _shingle_sets,
    simhash64,
)
from crypto_data_ingestion_script_spark.registry import load_all  # noqa: E402

QS = {n: s.fn for n, s in load_all().items()}
out: dict = {"scales": {}, "note_replication": __doc__.split("Replication")[1][:600]}


def tick(rec, label, fn):
    t0 = time.perf_counter()
    r = fn()
    rec[label] = round(time.perf_counter() - t0, 2)
    print(f"  {label}: {rec[label]}s -> {r}", flush=True)
    return r


def leg(sf_dir: str) -> dict:
    scales: dict = {}
    t = load(spark, sf_dir)
    docs = t.documents

    # ---- q_dedup_near ----------------------------------------------------
    rec: dict = {"stages": {}, "counts": {}}
    s, c = rec["stages"], rec["counts"]
    sets = tick(s, "s1_set_collapse", lambda: _shingle_sets(docs))
    c["n_distinct_sets"] = sets.count()
    depth = sets.agg(
        F.max(F.size("members")).alias("mx"),
        F.sum(F.size("members")).alias("n"),
    ).collect()[0]
    c["max_cluster_depth"], c["n_docs"] = int(depth["mx"]), int(depth["n"])
    bands = _minhash_bands(sets)
    a = bands.select(F.col("gid").alias("ga"), "band_id", "band_hash")
    b = bands.select(F.col("gid").alias("gb"), "band_id", "band_hash")
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb")
        .distinct()
    )
    c["n_candidate_group_pairs"] = tick(s, "s2_lsh_candidates", cand.count)
    c["rows_out"] = tick(
        s, "s3_total_end_to_end", lambda: QS["q_dedup_near"](spark, sf_dir).count()
    )
    scales["q_dedup_near"] = rec

    # ---- q_simhash_join ---------------------------------------------------
    rec = {"stages": {}, "counts": {}}
    s, c = rec["stages"], rec["counts"]
    sh = tick(s, "s1_fingerprints", lambda: simhash64(docs))
    c["n_fingerprints"] = sh.count()
    bands = sh.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.col("lo").bitwiseAND(65535),
                F.shiftright("lo", 16).bitwiseAND(65535),
                F.col("hi").bitwiseAND(65535),
                F.shiftright("hi", 16).bitwiseAND(65535),
            )
        ).alias("k", "bv"),
    )
    aa, bb = bands.alias("a"), bands.alias("b")
    cand = (
        aa.join(
            bb,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    c["n_band_candidates"] = tick(s, "s2_band_candidates", cand.count)
    bshape = (
        bands.groupBy("k", "bv").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("nb"), F.max("n").alias("mx")).collect()[0]
    )
    c["n_band_buckets"], c["max_band_bucket"] = int(bshape["nb"]), int(bshape["mx"])
    c["rows_out"] = tick(
        s, "s3_total_end_to_end", lambda: QS["q_simhash_join"](spark, sf_dir).count()
    )
    scales["q_simhash_join"] = rec

    # ---- q_suffix_lcp -----------------------------------------------------
    rec = {"stages": {}, "counts": {}}
    s, c = rec["stages"], rec["counts"]
    tk = F.split("text", " ")
    suf = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk)),
                lambda i: F.array_join(F.slice(tk, i, SUFFIX_CAP), " "),
            )
        ).alias("p0", "skey"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        F.array_join(F.slice(F.split("skey", " "), 1, LCP_MIN), " ").alias("bucket"),
        "skey",
    ).localCheckpoint()
    c["n_suffixes"] = tick(s, "s1_suffix_explode", suf.count)
    w = Window.partitionBy("bucket").orderBy("skey", "doc_id", "pos")
    adj = suf.select(
        F.col("doc_id").alias("da"),
        F.lag("doc_id").over(w).alias("db"),
    ).filter(F.col("db").isNotNull() & (F.col("da") != F.col("db")))
    c["n_cross_doc_adjacent"] = tick(s, "s2_bucket_adjacency", adj.count)
    bshape = (
        suf.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.count(F.lit(1)).alias("nb"), F.max("n").alias("mx")).collect()[0]
    )
    c["n_buckets"], c["max_bucket"] = int(bshape["nb"]), int(bshape["mx"])
    c["rows_out"] = tick(
        s, "s3_total_end_to_end", lambda: QS["q_suffix_lcp"](spark, sf_dir).count()
    )
    scales["q_suffix_lcp"] = rec

    # ---- containment family ------------------------------------------------
    rec = {"stages": {}, "counts": {}}
    s, c = rec["stages"], rec["counts"]
    t0 = time.perf_counter()
    sets, verified = _containment_sets_verified(docs, tau=0.9)
    s["s1_build"] = round(time.perf_counter() - t0, 2)
    c["n_distinct_groups"] = sets.count()
    cand = _containment_candidates(sets, 0.9)
    c["n_candidate_group_pairs"] = tick(s, "s2_candidates", cand.count)
    t0 = time.perf_counter()
    c["n_verified_group_pairs"] = verified.count()
    s["s3_verify"] = round(time.perf_counter() - t0 - s["s2_candidates"], 2)
    # Exact output contract of the FULL directional pair expansion,
    # without materializing it: sum over verified group pairs of
    # |ma|*|mb| (both directions are emitted by q_containment_join).
    expand = verified.agg(
        F.sum(F.size("ma").cast("bigint") * F.size("mb").cast("bigint")).alias("n")
    ).collect()[0]["n"]
    c["join_contract_rows_one_direction"] = int(expand or 0)
    c["rows_topk"] = tick(
        s,
        "s4a_topk_end_to_end",
        lambda: QS["q_containment_topk"](spark, sf_dir).count(),
    )
    if (expand or 0) <= MAX_EXPAND:
        c["rows_join"] = tick(
            s,
            "s4b_join_end_to_end",
            lambda: QS["q_containment_join"](spark, sf_dir).count(),
        )
    else:
        s["s4b_join_end_to_end"] = None
        c["rows_join"] = None
        rec["note"] = (
            f"full expansion is {expand} rows (> MAX_EXPAND={MAX_EXPAND}): "
            "output-bound by the data's quadratic pair count, not by the "
            "engine — all group-grain stages above completed; contract "
            "size computed exactly from the verified pairs."
        )
    scales["q_containment"] = rec

    # ---- q_pipeline_pretrain (end-to-end; stages in pipeline_decomp) -------
    rec = {"stages": {}, "counts": {}}
    rec["counts"]["rows_out"] = tick(
        rec["stages"],
        "total_end_to_end",
        lambda: QS["q_pipeline_pretrain"](spark, sf_dir).count(),
    )
    scales["q_pipeline_pretrain"] = rec
    return scales


for sf_dir in (os.path.join(ROOT, "benchdata", "sf1"),
               os.path.join(ROOT, "benchdata", "sf10")):
    if not os.path.isdir(sf_dir):
        continue
    name = os.path.basename(sf_dir)
    print(f"== {name} ==", flush=True)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    out["scales"][name] = leg(sf_dir)

# Linearity table: sf10 wall vs 10x the sf1 wall, per stage.
if {"sf1", "sf10"} <= out["scales"].keys():
    lin = {}
    for op, rec1 in out["scales"]["sf1"].items():
        rec10 = out["scales"]["sf10"][op]
        for st, w1 in rec1["stages"].items():
            w10 = rec10["stages"].get(st)
            if w1 and w10:
                lin[f"{op}.{st}"] = {
                    "sf1_s": w1,
                    "sf10_s": w10,
                    "x_vs_linear": round(w10 / (10 * w1), 2),
                }
    out["linearity_vs_10x"] = lin

with open(OUT, "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps(out, indent=1))
