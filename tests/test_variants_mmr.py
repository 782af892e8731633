"""Targeted semantics tests for the round-9 session-2 additions:

- q_fastss_join: deletion-neighborhood candidate generation is COMPLETE
  (zero false negatives vs brute-force all-pairs levenshtein) on a toy
  vocabulary that exercises insert/delete/substitute at d=1 and d=2;
- q_mmr: greedy invariants (distinct picks, step-1 = argmax relevance,
  non-increasing mmr_score — the candidate set shrinks and penalties only
  grow, so each step's max cannot exceed the previous);
- q_ivfpq_search: the IVF gate really gates (every returned candidate
  lives in one of its query's probed cells, recomputed with numpy) and
  ADC values agree with q_pq_search on shared (q, vec) pairs;
- q_softdedup: sum over sources of eff_docs == global distinct-text
  count (sum of group_size * 1/group_size — the identity that makes the
  reweighting mass-preserving), on a frame with known cross-source dups.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.llm.dedup import FASTSS_D, fastss_pairs
from crypto_data_ingestion_script_spark.registry import load_all

SPECS = load_all()


def test_fastss_complete_on_toy_vocab(spark):
    words = [
        "spark", "spork", "stork", "spar", "sparks", "park", "dark",
        "data", "date", "gate", "gaze", "maze", "a", "ab", "abc",
        "table", "cable", "fable", "stable", "xyzzy",
    ]
    vocab = spark.createDataFrame([(w, 1) for w in words], "w string, n bigint")
    got = {
        (r["tok_a"], r["tok_b"], r["dist"])
        for r in fastss_pairs(vocab).collect()
    }
    brute = {
        (r["a"], r["b"], r["d"])
        for r in vocab.alias("x")
        .crossJoin(vocab.select(F.col("w").alias("wb")).alias("y"))
        .filter(F.col("w") < F.col("wb"))
        .select(
            F.col("w").alias("a"),
            F.col("wb").alias("b"),
            F.levenshtein("w", "wb").alias("d"),
        )
        .filter(F.col("d") <= FASTSS_D)
        .collect()
    }
    assert got == brute  # complete AND exact (verify removed false positives)
    # sanity: the toy vocab exercises both distances
    dists = {d for _, _, d in brute}
    assert dists == {1, 2}


def test_mmr_greedy_invariants(spark, sf_dir):
    rows = SPECS["q_mmr"].fn(spark, sf_dir).orderBy("step").collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))  # no repeats
    assert rows[0]["penalty"] == 0.0
    scores = [r["mmr_score"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))  # non-increasing
    # step 1 is the pure-relevance argmax: no later pick has higher rel
    # than step 1 (ties broken toward lower vec_id).
    assert all(
        (r["rel"], -r["vec_id"]) <= (rows[0]["rel"], -rows[0]["vec_id"])
        for r in rows[1:]
    )


def test_mmr_batch_rounds_scores_like_its_oracle():
    """0.7 * 0.39452286 - 0.3 * 0.30000009 is 0.18616597499999998 (q_mmr's
    step-4 score at sf0.01), which scales by 1e8 to exactly 18616597.5:
    DuckDB's round(x, 8), which the oracle uses, gives 0.18616598, and
    HALF_UP on the decimal repr gives 0.18616597. The batch greedy must
    score the way the oracle does."""
    import duckdb
    import pandas as pd

    from crypto_data_ingestion_script_spark.llm.similarity import _mmr_batch

    rel = {1: 0.9, 2: 0.39452286, 3: 0.1, 4: 0.1, 5: 0.1}
    sim = {(2, 1): 0.30000009}
    pdf = pd.DataFrame(
        [(a, rel[a], b, sim.get((a, b), sim.get((b, a), 0.0)))
         for a in rel for b in rel if a != b],
        columns=["va", "rel_a", "vb", "sim"],
    )
    picks = _mmr_batch(pdf).set_index("step")
    want = duckdb.sql(
        "SELECT round(0.7 * 0.39452286::DOUBLE - 0.3 * 0.30000009::DOUBLE, 8)"
    ).fetchone()[0]
    assert want == 0.18616598
    assert picks.loc[2, "vec_id"] == 2
    assert picks.loc[2, "mmr_score"] == want


def test_ivfpq_gate_and_adc_consistency(spark, sf_dir):
    import numpy as np

    from crypto_data_ingestion_script_spark.catalog import load
    from crypto_data_ingestion_script_spark.llm.similarity import (
        IVF_CELLS,
        IVF_NPROBE,
    )

    out = SPECS["q_ivfpq_search"].fn(spark, sf_dir).collect()
    assert out, "ivfpq returned no rows"

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in load(spark, sf_dir).embeddings.collect()
    }
    seeds = sorted(emb)[:IVF_CELLS]
    C = np.stack([emb[v] for v in seeds])

    def cell_of(vec):
        d = np.round(((C - vec) ** 2).sum(axis=1), 8)
        return int(np.lexsort((np.arange(len(d)), d))[0])

    probed = {}
    for r in out:
        q = r["q_id"]
        if q not in probed:
            d = np.round(((C - emb[q]) ** 2).sum(axis=1), 8)
            probed[q] = set(np.lexsort((np.arange(len(d)), d))[:IVF_NPROBE])
        assert r["cell"] in probed[q], (r["q_id"], r["vec_id"], r["cell"])
        assert cell_of(emb[r["vec_id"]]) == r["cell"]

    # ADC agreement with the ungated PQ search on shared (q, vec) pairs.
    pq = {
        (r["q_id"], r["vec_id"]): r["adc"]
        for r in SPECS["q_pq_search"].fn(spark, sf_dir).collect()
    }
    shared = [
        (r["q_id"], r["vec_id"], r["adc"])
        for r in out
        if (r["q_id"], r["vec_id"]) in pq
    ]
    for q, v, adc in shared:
        assert abs(adc - pq[(q, v)]) < 1e-9


def test_softdedup_mass_preserving(spark):
    import pandas as pd

    # 3 sources; "dup dup" appears 4x across 2 sources, "solo" twice in one.
    rows = [
        (0, "dup dup", "s1"), (1, "dup dup", "s1"),
        (2, "dup dup", "s2"), (3, "dup dup", "s2"),
        (4, "solo one", "s2"), (5, "solo one", "s2"),
        (6, "unique text here", "s3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    d = docs.select(
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    dup = d.groupBy("h").agg(F.count(F.lit(1)).alias("dup_count"))
    agg = (
        d.join(dup, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum(1.0 / F.col("dup_count")), 6).alias("eff_docs"),
        )
    )
    pdf = agg.toPandas().set_index("source").sort_index()
    assert pdf.loc["s1", "eff_docs"] == 0.5  # 2 copies of a 4-dup text
    assert pdf.loc["s2", "eff_docs"] == 1.5  # 0.5 + the 2-dup solo pair
    assert pdf.loc["s3", "eff_docs"] == 1.0
    # mass preservation: sum of weights == number of distinct texts
    assert abs(pdf["eff_docs"].sum() - 3.0) < 1e-9
    assert isinstance(pdf, pd.DataFrame)
