"""PQ quantizer tests: encode/decode consistency, ADC-vs-exact agreement
on reconstructed vectors, and the recall gate vs brute force (reference
PerfTest.cpp:180-261 / TruthSet recall harness)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.pq import (
    opq_train,
    pq_adc_topk,
    pq_encode,
    pq_reconstruct,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()  # cached plans shadow parquet scans for other modules


M, K = 8, 16


@pytest.fixture(scope="module")
def trained(emb):
    _, books = opq_train(emb, m=M, k=K, opq_iters=0, kmeans_iters=5)
    codes = pq_encode(emb, books).cache()
    return books, codes


def test_shapes_and_code_range(emb, trained):
    books, codes = trained
    dim = len(emb.first()["embedding"])
    assert books.shape == (M, K, dim // M)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == M
        assert all(0 <= c < K for c in r["codes"])


def test_adc_equals_exact_on_reconstructed(emb, trained):
    """ADC(q, codes(x)) must equal ||q - reconstruct(codes(x))||^2 exactly
    (same decomposition the reference's LUT implements)."""
    books, codes = trained
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    got = {r["vec_id"]: r["adc_dist"]
           for r in pq_adc_topk(codes, books, q, k=20).collect()}
    pdf = codes.filter(F.col("vec_id").isin(*got)).toPandas()
    recon = pq_reconstruct(np.array(pdf["codes"].tolist()), books)
    qv = np.array(q)
    for vid, rec in zip(pdf["vec_id"], recon):
        assert got[vid] == pytest.approx(((qv - rec) ** 2).sum(), rel=1e-9)


def test_quantization_error_shrinks_with_k(emb):
    def mse(k):
        _, books = opq_train(emb, m=4, k=k, opq_iters=0, kmeans_iters=5)
        pdf = pq_encode(emb, books).toPandas()
        recon = pq_reconstruct(np.array(pdf["codes"].tolist()), books)
        orig = np.array(
            emb.orderBy("vec_id").toPandas()["embedding"].tolist()
        )
        order = np.argsort(pdf["vec_id"].to_numpy())
        return float(((orig - recon[order]) ** 2).mean())

    assert mse(16) < mse(2)


def test_adc_recall_gate(emb, trained):
    """ADC approximates L2, so the truth set is exact-L2 (numpy oracle) —
    comparing against a cosine ranking would conflate quantization loss
    with metric mismatch on unnormalized vectors."""
    books, codes = trained
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    hits = total = 0
    for qi in range(8):
        q = X[ids == qi][0]
        d = ((X - q) ** 2).sum(axis=1)
        d[ids == qi] = np.inf
        exact = set(ids[np.argsort(d)[:10]])
        approx = pq_adc_topk(
            codes.filter(F.col("vec_id") != int(qi)),
            books, [float(x) for x in q], k=10,
        ).collect()
        hits += sum(r["vec_id"] in exact for r in approx)
        total += 10
    recall = hits / total
    # 8x16 codebooks (32 bits) on RANDOM 64-d data — the hardest case for
    # PQ (no cluster structure). Gate = 10x better than the 2% chance
    # floor, mirroring the reference's threshold-style recall assertions.
    assert recall >= 0.2, f"ADC recall@10 = {recall}"

def _anisotropic_fixture(spark, n=384, dim=8, seed=7):
    """Anisotropic data whose principal axes straddle PQ's subspace
    boundaries: z ~ N(0, diag(scales)) mixed by a fixed orthogonal Q.
    Axis-aligned PQ wastes bits on the mixture; OPQ should recover ~Qᵀ."""
    rng = np.random.default_rng(seed)
    scales = np.array([8.0, 6.0, 4.0, 3.0, 0.5, 0.3, 0.2, 0.1])
    Q, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    X = (rng.normal(size=(n, dim)) * scales) @ Q
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    return df, X


def _adc_recall(spark, df, X, R, books, n_queries=8, k=10):
    from sptag_spark.operators.pq import opq_adc_topk, opq_encode

    codes = opq_encode(df, R, books).cache()
    hits = total = 0
    for qi in range(n_queries):
        q = X[qi]
        d = ((X - q) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact = set(int(i) for i in np.argsort(d)[:k])
        approx = opq_adc_topk(
            codes.filter(F.col("vec_id") != int(qi)), books, R,
            [float(x) for x in q], k=k,
        ).collect()
        hits += sum(r["vec_id"] in exact for r in approx)
        total += k
    codes.unpersist()
    return hits / total


def test_opq_rotation_beats_plain_pq_on_anisotropic_data(spark):
    """Reference Q10 quality tier (OPQQuantizer.h:1-210): on data whose
    correlated axes straddle subspace boundaries, the learned rotation
    must not lose to the identity rotation (same trainer, same budget) —
    and the rotation must be orthogonal."""
    from sptag_spark.operators.pq import opq_train

    df, X = _anisotropic_fixture(spark)
    R_pq, books_pq = opq_train(df, m=4, k=16, opq_iters=0,
                               sample_size=384)
    R_opq, books_opq = opq_train(df, m=4, k=16, opq_iters=8,
                                 sample_size=384)
    assert np.allclose(R_pq, np.eye(8))
    assert np.allclose(R_opq @ R_opq.T, np.eye(8), atol=1e-9)
    r_pq = _adc_recall(spark, df, X, R_pq, books_pq)
    r_opq = _adc_recall(spark, df, X, R_opq, books_opq)
    assert r_opq >= r_pq, f"OPQ recall {r_opq} < PQ recall {r_pq}"
    assert r_opq >= 0.5, f"OPQ recall too low: {r_opq}"


def test_opq_rotate_matches_numpy(spark):
    from sptag_spark.operators.pq import opq_rotate, opq_train

    df, X = _anisotropic_fixture(spark, n=64)
    R, _ = opq_train(df, m=4, k=8, opq_iters=2, sample_size=64)
    got = {r["vec_id"]: np.array(r["embedding"])
           for r in opq_rotate(df, R).collect()}
    want = X @ R
    for i in range(64):
        assert np.allclose(got[i], want[i], atol=1e-12)
