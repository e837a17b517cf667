"""IVF ANN (operators/similarity.py): recall against the exact brute-force
baseline, determinism, empty-input guard, and the k-means scale path with
nlist > 256 (nlist ≈ √N)."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def test_ann_ivf_recall_and_determinism(spark):
    from osmi_addresses_spark.driver_queries import s_ann_ivf, s_ann_topk

    exact = {(r["q_id"], r["n_id"]) for r in s_ann_topk(spark, SF_DIR).collect()}
    approx_rows = sorted(
        (r["q_id"], r["n_id"], r["rank"]) for r in s_ann_ivf(spark, SF_DIR).collect()
    )
    approx = {(q, n) for q, n, _ in approx_rows}
    assert exact, "baseline returned nothing"
    recall = len(approx & exact) / len(exact)
    # nprobe=6 of nlist=16 → candidate volume ~38% of brute force; the
    # deterministic seed centroids (no k-means) trade some recall for
    # SQL-oracle reproducibility — 0.6 is the floor we promise
    assert recall >= 0.6, f"recall@5 {recall:.2f} < 0.6"

    again = sorted(
        (r["q_id"], r["n_id"], r["rank"]) for r in s_ann_ivf(spark, SF_DIR).collect()
    )
    assert again == approx_rows, "IVF result not deterministic"


def test_seed_centroids_empty_guard(spark):
    from osmi_addresses_spark.operators.similarity import seed_centroids

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        seed_centroids(empty, 16)


def test_seed_centroids_driver_bounded(spark):
    """The driver-bounded selection (VERDICT r3 item 3): on a multi-partition
    input the collect volume stays ~nlist rows per phase — not
    partitions×nlist vectors — and the selected set is exactly the first
    nlist in (md5(id), id) order (the naive TakeOrdered form)."""
    from osmi_addresses_spark.operators import similarity as S

    n, nlist = 20_000, 64
    e = _synthetic_embeddings(spark, n, dim=8).repartition(16).cache()
    got = S.seed_centroids(e, nlist)
    assert S._seed_stats["slim_rows"] == nlist
    assert S._seed_stats["vec_rows"] <= 2 * nlist

    naive = (
        e.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(nlist)
        .collect()
    )
    want = np.array([r["embedding"] for r in naive], dtype=np.float64)
    e.unpersist()
    assert got.shape == (nlist, 8)
    np.testing.assert_array_equal(got, want)


def _synthetic_embeddings(spark, n: int, dim: int = 64, n_clusters: int = 500):
    """Deterministic clustered vectors, all JVM-side: cluster center from
    xxhash64(id % n_clusters, k), plus small per-id hash noise. Clustered
    structure is what makes recall a meaningful metric (pure random
    high-dim vectors have no stable neighbors to recall)."""

    def h(a, b):
        return F.pmod(F.xxhash64(a, b), F.lit(1000003)) / 500001.5 - 1.0

    cid = F.col("id") % n_clusters
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda k: (h(cid, k) + 0.05 * h(F.col("id"), k + dim)).cast("float"),
        ).alias("embedding"),
    )


def test_ann_ivf_kmeans_scale(spark):
    """Scale path: nlist = √N > 256 with distributed k-means refinement.
    Recall@5 vs the exact cosine top-5 over the same collected vectors (the
    baseline reads the vectors Spark produced, so no cross-engine float
    noise enters the measurement)."""
    from osmi_addresses_spark.operators.similarity import ann_ivf_topk

    N, n_q = 70_000, 5
    e = _synthetic_embeddings(spark, N).cache()
    approx = ann_ivf_topk(e, k=5, nlist=None, nprobe=12, refine_iters=2)
    got = {}
    for r in approx.collect():
        got.setdefault(r["q_id"], set()).add(r["n_id"])

    rows = e.orderBy("vec_id").collect()
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mu = m / np.linalg.norm(m, axis=1, keepdims=True)
    hits = total = 0
    for q in range(n_q):
        sims = mu @ mu[q]
        sims[q] = -np.inf
        top = set(np.argsort(-sims, kind="stable")[:5].tolist())
        hits += len(top & got.get(q, set()))
        total += 5
    e.unpersist()
    recall = hits / total
    assert recall >= 0.8, f"kmeans IVF recall@5 {recall:.2f} < 0.8 (nlist≈√N)"
