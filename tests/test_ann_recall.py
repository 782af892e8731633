"""ANN quality gate: the LSH path is only a valid 'scale twin' of the exact
brute-force cosine search if buckets actually group similar vectors. Recall
is measured against ground truth from the exact pairwise computation —
a structurally-broken bucketing (e.g. degenerate hyperplanes putting all
vectors in one bucket, or scattering true neighbors) fails this even though
q_ann_lsh's rows-only check would stay green."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crypto_data_ingestion_script_spark.catalog import load
from crypto_data_ingestion_script_spark.llm.similarity import hyperplane_buckets


def test_bucket_distribution_not_degenerate(spark, sf_dir):
    t = load(spark, sf_dir)
    dist = (
        t.embeddings.select(hyperplane_buckets(F.col("embedding")))
        .groupBy("bucket")
        .count()
        .collect()
    )
    n_total = sum(r["count"] for r in dist)
    largest = max(r["count"] for r in dist)
    assert len(dist) >= 32, f"only {len(dist)} of 256 buckets used"
    assert largest < 0.2 * n_total, "one bucket swallowed >=20% of vectors"


def test_ann_verdicts_and_exact_nn(spark, sf_dir):
    """Both ANN paths emit (exact NN + recall verdict). The verdicts must
    be TRUE (a structurally broken bucketing/cell layout drops recall to
    ~random and flips them), and the exact-NN side must agree with
    q_cosine_topk's rank-1 rows — guarding against the query grading its
    candidates against a wrong ground truth."""
    from crypto_data_ingestion_script_spark.registry import load_all

    specs = load_all()
    rank1 = {
        r["q_id"]: (r["cand_id"], r["cos_sim"])
        for r in specs["q_cosine_topk"].fn(spark, sf_dir).collect()
        if r["rn"] == 1
    }
    for qname, verdict in [
        ("q_ann_lsh", "lsh_recall_ok"),
        ("q_ann_ivf", "ivf_recall_ok"),
    ]:
        rows = specs[qname].fn(spark, sf_dir).collect()
        assert len(rows) == 5, (qname, len(rows))
        for r in rows:
            assert r[verdict], f"{qname} q_id={r['q_id']}: recall verdict false"
            nn_id, nn_sim = rank1[r["q_id"]]
            assert r["exact_nn_id"] == nn_id, (qname, r, nn_id)
            assert abs(r["exact_nn_sim"] - nn_sim) < 1e-7, (qname, r)


def test_lsh_recall_on_planted_neighbors(spark):
    """The driver corpus is near-random (max pairwise cos ~0.51 at sf0.01),
    so recall is measured on planted pairs: 100 base vectors, each with a
    near-duplicate at cos ~0.99 plus 100 decoys. Sign-LSH co-bucket
    probability per plane at cos 0.99 is 1 - angle/pi ≈ 0.955, so ~0.955^8
    ≈ 0.69 for 8 planes — require a conservative 0.4, far above the 1/256
    random-collision rate. Deterministic: fixed numpy seed."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 64))
    noisy = base + 0.08 * rng.normal(size=base.shape)  # cos ≈ 0.99
    decoys = rng.normal(size=(100, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i, v in enumerate(noisy):
        rows.append((1000 + i, [float(x) for x in v]))
    for i, v in enumerate(decoys):
        rows.append((2000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    bucketed = {
        r["vec_id"]: r["bucket"]
        for r in df.select("vec_id", hyperplane_buckets(F.col("embedding"))).collect()
    }
    hits = sum(bucketed[i] == bucketed[1000 + i] for i in range(100))
    recall = hits / 100
    assert recall > 0.4, f"planted-pair recall {recall:.2f}"
    # decoys must NOT systematically co-bucket with bases
    false_hits = sum(bucketed[i] == bucketed[2000 + i] for i in range(100))
    assert false_hits < hits / 2, (hits, false_hits)


def test_ivf_assignments_match_onescan_cells(spark, sf_dir):
    """`ivf_assignments` (the explicit-join IVF form that replaces the
    closure-shipped probe match past closure scale) must assign every
    vector to the argmin-distance cell of the SAME deterministic centroid
    matrix the one-scan q_ann_ivf ships — the two forms are the reduce
    and map sides of the same cell equi-join, so their cell layouts must
    be identical."""
    from crypto_data_ingestion_script_spark.llm.similarity import (
        ivf_assignments,
        kmeans_centroids,
    )

    t = load(spark, sf_dir)
    assigned, C = ivf_assignments(t.embeddings, k=16)
    rows = assigned.select("vec_id", "embedding", "cell").collect()
    assert len(rows) > 0
    E = np.array([r["embedding"] for r in rows], dtype="float64")
    want = np.argmin(((E[:, None, :] - C[None, :, :]) ** 2).sum(-1), axis=1)
    got = np.array([r["cell"] for r in rows])
    assert (got == want).all()
    # and the centroid matrix is the shared deterministic one
    C2 = kmeans_centroids(t.embeddings, k=16)
    assert np.allclose(C, C2)


def test_probe_fetch_spark_fallback_matches_pyarrow(spark, sf_dir):
    """`fetch_probes` reads a local table with pyarrow and anything else
    (a ``file://`` URI is not an ``os.path.isdir``) through Spark; both
    paths must return the same ids, matrix and extra columns bit for bit."""
    from crypto_data_ingestion_script_spark.llm.similarity import fetch_probes

    t = load(spark, sf_dir)
    ids, Q, extras = fetch_probes(sf_dir, t.embeddings, {"vec_id": 25},
                                  extra=("label",))
    ids2, Q2, extras2 = fetch_probes("file://" + sf_dir, t.embeddings,
                                     {"vec_id": 25}, extra=("label",))
    assert len(ids) > 0 and Q.shape == (len(ids), 64)
    assert ids.tolist() == ids2.tolist()
    assert Q.dtype == Q2.dtype == np.float64
    assert Q.tobytes() == Q2.tobytes()
    assert extras["label"].tolist() == extras2["label"].tolist()
