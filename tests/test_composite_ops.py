"""Known-answer unit tests for the composite operators added late in the
round: CDC changelog apply, BFS distances, Welch t-test, BM25 ranking —
tiny in-memory fixtures with hand-computable expected values, mirroring
the reference's test style (reference tests.py:85-117)."""

from __future__ import annotations

import math

import pytest

from crypto_data_ingestion_script_spark.operators.behavior import cdc_apply
from crypto_data_ingestion_script_spark.operators.graph import _bfs_batch
from crypto_data_ingestion_script_spark.registry import load_all


def test_cdc_apply_semantics(spark):
    # key 1: update then tombstone -> gone; key 2: tombstone then update
    # -> resurrected with the later value; key 3: updates only -> latest.
    log = spark.createDataFrame(
        [
            (1, 10, "U", 1.0),
            (1, 20, "D", None),
            (2, 10, "D", None),
            (2, 30, "U", 7.5),
            (3, 10, "U", 2.0),
            (3, 15, "U", 3.0),
        ],
        "pk int, seq int, op string, value double",
    )
    got = {r.pk: r.current_value for r in cdc_apply(log).collect()}
    assert got == {2: 7.5, 3: 3.0}


def test_cdc_apply_out_of_order_delivery(spark):
    # The log arrives shuffled; seq, not arrival order, must decide.
    log = spark.createDataFrame(
        [(1, 30, "U", 9.0), (1, 10, "U", 1.0), (1, 20, "D", None)],
        "pk int, seq int, op string, value double",
    )
    got = cdc_apply(log).collect()
    assert len(got) == 1 and got[0].current_value == 9.0


def _bfs(edges) -> dict:
    """Hop distances from ``_bfs_batch`` over a toy (src, dst) list. Its
    BFS_SOURCE (0) and BFS_ROUNDS (4) are the source and round count the
    graphs below are written for."""
    import pandas as pd

    out = _bfs_batch(pd.DataFrame(edges, columns=["src", "dst"]))
    return dict(zip(out["node"], out["dist"]))


def test_bfs_path_graph():
    # 0 -> 1 -> 2 -> 3 (directed path): dist == hop index; 4 rounds cover.
    got = _bfs([(0, 1), (1, 2), (2, 3)])
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_min_over_multiple_paths():
    # Diamond with a shortcut: 0->1->3 and 0->3 — min-hop wins (1, not 2);
    # node 4 unreachable from 0 stays absent.
    got = _bfs([(0, 1), (1, 3), (0, 3), (4, 0)])
    assert got == {0: 0, 1: 1, 3: 1}


@pytest.mark.parametrize(
    "kernel",
    ["_pagerank_batch", "_bfs_batch", "_hits_batch", "_lpa_batch", "_bf_batch"],
)
def test_single_batch_graph_kernel_refuses_data_sized_edges(kernel):
    """A single-batch kernel holds its whole edge list in one Python
    worker: past ONE_BATCH_MAX_EDGES rows it fails with a clear message
    before doing any work."""
    import pandas as pd

    from crypto_data_ingestion_script_spark.operators import graph

    n = graph.ONE_BATCH_MAX_EDGES + 1
    ids = pd.Series(range(n)) % 25
    pdf = pd.DataFrame({"src": ids, "dst": (ids + 1) % 25, "w": 1})
    with pytest.raises(ValueError, match="single-batch cap"):
        getattr(graph, kernel)(pdf)


def test_welch_ttest_known_answer(spark, sf_dir):
    """q_ttest must equal the closed-form Welch computation done in plain
    Python over the same rows."""
    specs = load_all()
    row = specs["q_ttest"].fn(spark, sf_dir).collect()[0]
    import duckdb

    vals = duckdb.connect().execute(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet' "
        "WHERE event_type IN ('click','purchase')"
    ).fetchall()
    a = [v for t, v in vals if t == "click"]
    b = [v for t, v in vals if t == "purchase"]

    def meanvar(xs):
        n = len(xs)
        m = sum(xs) / n
        v = sum((x - m) ** 2 for x in xs) / (n - 1)
        return n, m, v

    n1, m1, v1 = meanvar(a)
    n2, m2, v2 = meanvar(b)
    se2 = v1 / n1 + v2 / n2
    t_stat = (m1 - m2) / math.sqrt(se2)
    dof = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.t_stat - t_stat) < 1e-5
    assert abs(row.dof - dof) < 1e-3


def test_bm25_scores_positive_and_ranked(spark, sf_dir):
    specs = load_all()
    rows = specs["q_bm25"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_windowed_funnel_fixture(spark):
    """q_funnel_windowed's sf0.01 correctness check is vacuous (no funnel
    completes within 1 hour at that scale), so pin the semantics on a
    hand-built log: completions within the hour count, chains with any
    gap over an hour or missing/misordered steps do not."""
    from datetime import datetime

    from crypto_data_ingestion_script_spark.operators.behavior import (
        windowed_funnel,
    )

    T = datetime
    rows = [
        # u1: clean view -> click -> purchase, gaps < 1h => completes
        (1, T(2024, 1, 1, 10, 0), 1, "view"),
        (1, T(2024, 1, 1, 10, 30), 2, "click"),
        (1, T(2024, 1, 1, 11, 15), 3, "purchase"),
        # u1 second purchase 2h after the click => does NOT complete
        (1, T(2024, 1, 1, 13, 0), 4, "purchase"),
        # u2: view -> click gap is 2h => click unqualified, no completion
        (2, T(2024, 1, 1, 9, 0), 5, "view"),
        (2, T(2024, 1, 1, 11, 30), 6, "click"),
        (2, T(2024, 1, 1, 11, 45), 7, "purchase"),
        # u3: purchase before any click => no completion
        (3, T(2024, 1, 1, 9, 0), 8, "purchase"),
        (3, T(2024, 1, 1, 9, 10), 9, "view"),
        (3, T(2024, 1, 1, 9, 20), 10, "click"),
        # u4: two completions off one view (click re-qualifies) => 2 rows
        (4, T(2024, 1, 1, 8, 0), 11, "view"),
        (4, T(2024, 1, 1, 8, 10), 12, "click"),
        (4, T(2024, 1, 1, 8, 20), 13, "purchase"),
        (4, T(2024, 1, 1, 8, 50), 14, "click"),
        (4, T(2024, 1, 1, 9, 30), 15, "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp_ntz, event_id bigint, event_type string"
    )
    got = {
        r["user_id"]: (r["n_completions"], r["first_completion"])
        for r in windowed_funnel(events).collect()
    }
    assert set(got) == {1, 4}, got
    assert got[1] == (1, T(2024, 1, 1, 11, 15)), got[1]
    assert got[4] == (2, T(2024, 1, 1, 8, 20)), got[4]


def test_kn_model_discount_mass_and_continuation(spark):
    """kn_bigram_model on a hand-built corpus: (1) per-context observed
    probability mass stays <= 1 (absolute discounting never over-
    allocates), and (2) the continuation effect — two words with the SAME
    bigram count after the same context, where one follows more distinct
    contexts corpus-wide, ranks the richer-context word higher (the
    property that distinguishes KN from add-k smoothing)."""
    from crypto_data_ingestion_script_spark.llm.curation import (
        bigram_events,
        kn_bigram_model,
    )

    # "m" follows only "q" (1 distinct left context); "n" follows both
    # "q" and "r" (2 distinct left contexts); c(q,m) = c(q,n) = 2.
    docs = spark.createDataFrame(
        [(1, "q m q m q n q n r n")], "doc_id bigint, text string"
    )
    m = kn_bigram_model(bigram_events(docs)).collect()
    p = {(r["prev"], r["cur"]): math.exp(r["logp"]) for r in m}
    assert p[("q", "n")] > p[("q", "m")], p
    mass = {}
    for (prev, _), prob in p.items():
        mass[prev] = mass.get(prev, 0.0) + prob
    assert all(v <= 1.0 + 1e-9 for v in mass.values()), mass


def test_crosslingual_mine_matches_numpy_reference(spark):
    """q_crosslingual_mine vs an independent dense numpy re-derivation at
    sf0.001: same best-margin target per probe, same rounded margin, same
    mutuality flags (pins the ratio-margin algebra and both rank
    directions end-to-end)."""
    import numpy as np
    import pyarrow.parquet as pq

    from crypto_data_ingestion_script_spark.llm.similarity import (
        MARGIN_K,
        MINE_PROBE_LIM,
    )

    sf_dir = "/root/testdata/sf0.001"
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    a = tbl[(tbl.label < 5) & (tbl.vec_id < MINE_PROBE_LIM)].sort_values("vec_id")
    b = tbl[tbl.label >= 5].sort_values("vec_id")
    A = np.stack(a.embedding.to_numpy()).astype("float64")
    B = np.stack(b.embedding.to_numpy()).astype("float64")
    cos = np.round(
        (A @ B.T)
        / (
            np.sqrt((A * A).sum(1))[:, None]
            * np.sqrt((B * B).sum(1))[None, :]
        ),
        8,
    )
    # Sequential top-k mean over value-sorted cosines, matching the
    # engine's fold exactly.
    def topk_mean(row):
        vals = np.sort(row)[::-1][:MARGIN_K]
        acc = 0.0
        for v in vals:
            acc = acc + v
        return acc / MARGIN_K

    ma = np.array([topk_mean(r) for r in cos])
    mb = np.array([topk_mean(c) for c in cos.T])
    margin = np.round(cos * 2 / (ma[:, None] + mb[None, :]), 6)
    a_ids = a.vec_id.to_numpy()
    b_ids = b.vec_id.to_numpy()
    expect = {}
    for i, aid in enumerate(a_ids):
        # best by (margin desc, b_id asc)
        j = min(range(len(b_ids)), key=lambda j: (-margin[i, j], b_ids[j]))
        # target j's best probe by (margin desc, a_id asc)
        i_back = min(range(len(a_ids)), key=lambda i2: (-margin[i2, j], a_ids[i2]))
        expect[int(aid)] = (int(b_ids[j]), float(margin[i, j]), i_back == i)

    from crypto_data_ingestion_script_spark.registry import load_all

    got = {
        int(r["a_id"]): (int(r["b_id"]), float(r["margin"]), bool(r["mutual"]))
        for r in load_all()["q_crosslingual_mine"].fn(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0


def test_quality_classifier_matches_hashlib_reference(spark):
    """q_quality_classifier vs an independent hashlib/python re-derivation
    at sf0.001: identical probabilities and keep flags (pins the md5
    bucket hash, the fixed-point weight formula, and the sigmoid)."""
    import duckdb

    from crypto_data_ingestion_script_spark.llm.text import (
        QC_BUCKETS,
        QC_MOD,
        QC_SHIFT,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    import hashlib

    expect = {}
    for doc_id, text in rows:
        toks = text.lower().split(" ")
        s = 0
        for tk in toks:
            b = int(hashlib.md5(tk.encode()).hexdigest()[:8], 16) % QC_BUCKETS
            s += (b * 2654435761) % QC_MOD - QC_SHIFT
        prob = round(1.0 / (1.0 + math.exp(-(s / float(QC_MOD) / len(toks)))), 6)
        expect[doc_id] = (len(toks), prob, s > 0)

    got = {
        r["doc_id"]: (r["n_tokens"], r["quality_prob"], r["keep"])
        for r in load_all()["q_quality_classifier"].fn(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0


def test_ngram_novelty_first_doc_full_copy_zero(spark, monkeypatch, tmp_path):
    """q_ngram_novelty policy pin on a toy corpus: the earliest doc is 100%
    novel, an exact later copy is 0% novel, and a half-overlapping doc
    lands strictly between."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d1 = "a b c d e f g h"
    d3 = "e f g h x y z w"
    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": [d1, d1, d3],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": pa.array([len(d1), len(d1), len(d3)], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in load_all()["q_ngram_novelty"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0
    assert 0.0 < out[3]["novelty"] < 1.0


def test_zipf_fit_matches_numpy_ols(spark):
    """q_zipf_fit vs numpy's closed-form OLS on the same rank/frequency
    points at sf0.001 (independent re-derivation of slope, intercept and
    R^2)."""
    import duckdb
    import numpy as np

    sf_dir = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    c = Counter(tok for (t,) in rows for tok in t.lower().split(" "))
    ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    x = np.log(np.arange(1, len(ordered) + 1, dtype="float64"))
    y = np.log(np.array([f for _, f in ordered], dtype="float64"))
    n = len(x)
    slope = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    intercept = (y.sum() - slope * x.sum()) / n
    r2 = ((n * (x * y).sum() - x.sum() * y.sum()) ** 2) / (
        (n * (x * x).sum() - x.sum() ** 2) * (n * (y * y).sum() - y.sum() ** 2)
    )
    got = load_all()["q_zipf_fit"].fn(spark, sf_dir).collect()[0]
    assert got["n_vocab"] == n
    assert abs(got["slope"] - slope) < 1e-5
    assert abs(got["intercept"] - intercept) < 1e-5
    assert abs(got["r2"] - r2) < 1e-5


def test_rake_known_answer_toy(spark, tmp_path):
    """RAKE hand-computed pin: 'deep learning the deep model' segments at
    the stopword into two phrases; deg/freq gives every word score 2.0,
    both phrases score 4.0, and the lexicographic tie-break picks
    'deep learning'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    txt = "deep learning the deep model"
    tbl = pa.table(
        {
            "doc_id": pa.array([7], pa.int64()),
            "text": [txt],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": pa.array([len(txt)], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    (row,) = load_all()["q_rake_keywords"].fn(spark, str(tmp_path)).collect()
    assert row["top_phrase"] == "deep learning"
    assert row["score"] == 4.0
    assert row["n_phrases"] == 2


def test_pipeline_quality_survives_replication(spark, tmp_path):
    """q_pipeline_quality stage-order pin: exact dedup runs BEFORE
    boilerplate document-frequency, so a corpus of 5x replicated docs
    keeps one copy per unique doc instead of counting replicas into
    df >= 3 and cutting everything (the failure mode the sf1 benchdata
    exposed)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crypto_data_ingestion_script_spark.llm.text import (
        QC_BUCKETS,
        QC_MOD,
        QC_SHIFT,
    )

    def wnum(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % QC_BUCKETS
        return (b * 2654435761) % QC_MOD - QC_SHIFT

    # 48 distinct positive-weight tokens -> 6 unique 8-token docs that all
    # pass the quality gate and share no 4-grams.
    pos = [w for w in (f"w{i}" for i in range(400)) if wnum(w) > 0][:48]
    assert len(pos) == 48
    uniq = [" ".join(pos[i * 8 : (i + 1) * 8]) for i in range(6)]
    docs = [(doc_id, uniq[doc_id % 6]) for doc_id in range(30)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": [t for _, t in docs],
            "lang": ["en"] * 30,
            "source": ["s"] * 30,
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = load_all()["q_pipeline_quality"].fn(spark, str(tmp_path)).collect()
    assert {r["doc_id"] for r in rows} == {0, 1, 2, 3, 4, 5}
    assert all(r["novelty"] == 1.0 and r["bin"] == 0 for r in rows)


def test_ks_and_psi_detect_injected_shift(spark, tmp_path):
    """Drift-op sanity on constructed data: identical distributions give
    KS D ~ 0 / PSI ~ 0 with no drift flag; a hard location shift flips
    both flags."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(chars_en, chars_other, path):
        n = len(chars_en) + len(chars_other)
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": ["x"] * n,
                "lang": ["en"] * len(chars_en) + ["de"] * len(chars_other),
                "source": ["s"] * n,
                "n_chars": pa.array(chars_en + chars_other, pa.int64()),
            }
        )
        path.mkdir()
        pq.write_table(tbl, str(path / "documents.parquet"))

    same = [100 + i for i in range(50)]
    write(same, same, tmp_path / "same")
    shifted = [1000 + i for i in range(50)]
    write(same, shifted, tmp_path / "shift")
    qs = load_all()
    for name in ("q_ks_drift", "q_psi"):
        (r_same,) = qs[name].fn(spark, str(tmp_path / "same")).collect()
        (r_shift,) = qs[name].fn(spark, str(tmp_path / "shift")).collect()
        assert not r_same["drifted"], (name, r_same)
        assert r_shift["drifted"], (name, r_shift)


def test_changepoint_finds_injected_step(spark, tmp_path):
    """q_changepoint known-answer: a flat-10 / flat-50 step series splits
    exactly at the step, with delta = 40."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 40
    base = datetime.datetime(2024, 1, 1)
    rows = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(
            [base + datetime.timedelta(minutes=i) for i in range(n)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": ["step"] * n,
        "value": pa.array([10.0] * 20 + [50.0] * 20, pa.float64()),
        "props": ["{}"] * n,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    (r,) = load_all()["q_changepoint"].fn(spark, str(tmp_path)).collect()
    # The argmax candidate is the last row of the left segment.
    assert r["split_ts"] == base + datetime.timedelta(minutes=19)
    assert r["delta"] == 40.0


def test_kcenter_radii_non_increasing(spark):
    """q_kcenter certificate: selection distances are monotone
    non-increasing (each new center is the current farthest point, so
    coverage radii can only shrink), rank 1 is the lowest vec_id with
    sel_dist 0, and all centers are distinct."""
    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    rows = sorted(
        (r["rank"], r["center_id"], r["sel_dist"])
        for r in load_all()["q_kcenter"].fn(spark, sf_dir).collect()
    )
    min_id = duckdb.connect().execute(
        f"SELECT min(vec_id) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert rows[0][1] == min_id and rows[0][2] == 0.0
    dists = [d for _, _, d in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists
    assert len({c for _, c, _ in rows}) == len(rows)


def test_rrf_fusion_algebra(spark):
    """q_rrf invariants: rrf_score is exactly the (rounded) sum of the two
    leg reciprocals 1/(60+rank); the output is non-increasing in score;
    every row carries at least one leg rank; and a doc ranked in BOTH legs
    fuses both reciprocals (so the hybrid beats either single-leg score)."""
    sf_dir = "/root/testdata/sf0.001"
    rows = load_all()["q_rrf"].fn(spark, sf_dir).collect()
    assert rows, "q_rrf returned no rows"
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    saw_both = False
    for r in rows:
        assert r["lex_rank"] is not None or r["dense_rank"] is not None
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (60 + r["lex_rank"])
        if r["dense_rank"] is not None:
            expect += 1.0 / (60 + r["dense_rank"])
            saw_both = saw_both or r["lex_rank"] is not None
        assert abs(r["rrf_score"] - round(expect, 8)) < 1e-12, r
    # sf0.001's corpus is small enough that lexical and dense legs overlap;
    # if this ever fails the fixture changed, not the operator.
    assert saw_both
