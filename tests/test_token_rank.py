"""Vocabulary-cardinality guard for the set-similarity joins' token
dictionary (llm/dedup.py:token_rank): the broadcast-window path and the
two-pass-range path must emit IDENTICAL ranks, both guard branches must be
reachable and labeled, and the two queries that ride the guard
(q_jaccard_join / q_containment_join) must stay oracle-green when forced
onto the scale path — so the 100 TB branch is exercised by the suite, not
just trusted.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.llm import dedup as dd
from crypto_data_ingestion_script_spark.registry import load_all

from simlib import compare_frames, duck_connection

SPECS = load_all()


def _token_table(spark, seed: int = 7, n_docs: int = 300, vocab: int = 250):
    """Zipf-ish (doc_id, tok) table: low ids appear in many docs, high ids
    in few — realistic document-frequency skew plus df ties, so the
    (df, tok) tiebreak is actually load-bearing in the equivalence check."""
    rng = random.Random(seed)
    words = [f"w{i:04d}" for i in range(vocab)]
    rows = []
    for d in range(n_docs):
        n = rng.randint(3, 30)
        # triangular weighting: earlier words much more frequent
        picks = {words[min(int(rng.random() ** 2 * vocab), vocab - 1)] for _ in range(n)}
        rows.extend((d, w) for w in picks)
    return spark.createDataFrame(rows, "doc_id int, tok string")


def test_token_rank_paths_equivalent(spark):
    """Property (VERDICT r4 task 1): broadcast-window ranks == two-pass
    range ranks, token for token, and both are a dense 1..n permutation."""
    tok = _token_table(spark)
    rank_b, strat_b = dd.token_rank(tok, broadcast_cap=10**9)
    rank_t, strat_t = dd.token_rank(tok, broadcast_cap=0)
    assert strat_b == "broadcast-window"
    assert strat_t == "two-pass-range"
    mb = {r["tok"]: r["r"] for r in rank_b.collect()}
    mt = {r["tok"]: r["r"] for r in rank_t.collect()}
    assert mb == mt
    assert sorted(mb.values()) == list(range(1, len(mb) + 1))


def test_token_rank_guard_branches_pinned(spark):
    """Plan pin for both guard branches: the small-vocab branch broadcasts
    the dictionary into the fact join (BroadcastHashJoin in the executed
    plan); the large-vocab branch joins without a broadcast hint and its
    rank table carries the same schema."""
    tok = _token_table(spark, seed=11, n_docs=120)

    rank_b, strat_b = dd.token_rank(tok, broadcast_cap=10**9)
    assert strat_b == "broadcast-window"
    joined = tok.join(rank_b, "tok")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    rank_t, strat_t = dd.token_rank(tok, broadcast_cap=0)
    assert strat_t == "two-pass-range"
    assert dict(rank_t.dtypes) == dict(rank_b.dtypes)
    # The scale branch ranks inside per-range partitions (window keyed on
    # the _pid range id — ranking.py's two-pass plan); the only broadcast
    # hint it may carry is global_row_number's summary-scale offsets
    # table, never the vocabulary itself.
    plan_t = rank_t._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_pid" in plan_t
    plan_b = rank_b._jdf.queryExecution().optimizedPlan().toString()
    assert "_pid" not in plan_b


@pytest.mark.parametrize("name", ["q_jaccard_join", "q_containment_join"])
def test_similarity_joins_green_on_two_pass_path(name, spark, sf_dir, monkeypatch):
    """Force both set-similarity joins onto the above-cap (two-pass rank +
    shuffle join) branch and re-run the full DuckDB oracle comparison: the
    scale path must be value-identical, not merely plausible."""
    monkeypatch.setattr(dd, "VOCAB_BROADCAST_CAP", 0)
    spec = SPECS[name]
    con = duck_connection(sf_dir)
    try:
        want = con.execute(spec.oracle).fetchdf()
        got = spec.fn(spark, sf_dir).toPandas()
        assert compare_frames(got, want) == ("ok", None)
    finally:
        con.close()
