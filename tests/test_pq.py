"""PQ quantizer tests on the one encoder (pq._encode_codes): encode/decode
consistency, integer ADC exactness through the Arrow scan, quantization
error vs codebook size, and the recall gates vs an exact L2 ranking
(reference PerfTest.cpp:180-261 / TruthSet recall harness)."""

from __future__ import annotations

import numpy as np
import pytest

from sptag_spark.functions.vecarrow import np_quantize
from sptag_spark.operators.pq import (
    _encode_codes,
    opq_train,
    pq_adc_topk_int,
    pq_codebooks_md5,
    pq_reconstruct,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()  # cached plans shadow parquet scans for other modules


@pytest.fixture(scope="module")
def matrix(emb):
    """(ids ascending, float64 embedding matrix in the same order)."""
    pdf = emb.orderBy("vec_id").toPandas()
    return (pdf["vec_id"].to_numpy(),
            np.array(pdf["embedding"].tolist(), dtype=np.float64))


M, K = 8, 16


@pytest.fixture(scope="module")
def trained(emb, matrix):
    _, books = opq_train(emb, m=M, k=K, opq_iters=0, kmeans_iters=5)
    return books, _encode_codes(matrix[1], books)


def _adc_topk(codes, books, q, k, skip):
    """Row indices of the float ADC top-k: Σ_s T_s[code_s] with
    T_s[j] = ||q_s - codeword_sj||^2, ties by row order; row `skip`
    (the query itself) is excluded."""
    m, _, dsub = books.shape
    tables = ((books - q.reshape(m, 1, dsub)) ** 2).sum(axis=2)
    adc = tables[np.arange(m), codes].sum(axis=1)
    adc[skip] = np.inf
    return np.argsort(adc, kind="stable")[:k]


def test_shapes_and_code_range(emb, matrix, trained):
    books, codes = trained
    dim = matrix[1].shape[1]
    assert books.shape == (M, K, dim // M)
    assert codes.shape == (emb.count(), M)
    assert ((codes >= 0) & (codes < K)).all()


def test_adc_equals_exact_on_reconstructed(emb, matrix):
    """ADC(q, codes(x)) must equal ||q - reconstruct(codes(x))||^2 exactly
    (same decomposition the reference's LUT implements), through the
    integer Arrow scan on md5-sampled codebooks; its top-k is the
    (distance, id) order of those exact distances."""
    ids, X = matrix
    books = pq_codebooks_md5(emb, m=M, k=K)
    Q = np_quantize(X)
    q = Q[ids == 0][0]
    got = pq_adc_topk_int(emb, books, q.tolist(), k=20).collect()
    recon = pq_reconstruct(_encode_codes(Q, books), books)
    exact = ((recon - q) ** 2).sum(axis=1)
    for r in got:
        assert r["adc_dist"] == exact[ids == r["vec_id"]][0]
    order = np.lexsort((ids, exact))[:20]
    assert [r["vec_id"] for r in got] == ids[order].tolist()


def test_quantization_error_shrinks_with_k(emb, matrix):
    X = matrix[1]

    def mse(k):
        _, books = opq_train(emb, m=4, k=k, opq_iters=0, kmeans_iters=5)
        recon = pq_reconstruct(_encode_codes(X, books), books)
        return float(((X - recon) ** 2).mean())

    assert mse(16) < mse(2)


def test_adc_recall_gate(matrix, trained):
    """ADC approximates L2, so the truth set is exact-L2 (numpy oracle) —
    comparing against a cosine ranking would conflate quantization loss
    with metric mismatch on unnormalized vectors."""
    books, codes = trained
    ids, X = matrix
    hits = total = 0
    for qi in range(8):
        row = int(np.nonzero(ids == qi)[0][0])
        d = ((X - X[row]) ** 2).sum(axis=1)
        d[row] = np.inf
        exact = set(ids[np.argsort(d)[:10]])
        approx = ids[_adc_topk(codes, books, X[row], 10, row)]
        hits += sum(v in exact for v in approx)
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


def _adc_recall(X, R, books, n_queries=8, k=10):
    """Recall@k of ADC in the rotated space: rotations are orthogonal, so
    ||q - x|| == ||qR - xR|| and the query rotates like the corpus."""
    Xr = X @ R
    codes = _encode_codes(Xr, books)
    hits = total = 0
    for qi in range(n_queries):
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        exact = set(int(i) for i in np.argsort(d)[:k])
        approx = _adc_topk(codes, books, Xr[qi], k, qi)
        hits += sum(int(i) in exact for i in approx)
        total += k
    return hits / total


def test_opq_rotation_beats_plain_pq_on_anisotropic_data(spark):
    """Reference Q10 quality tier (OPQQuantizer.h:1-210): on data whose
    correlated axes straddle subspace boundaries, the learned rotation
    must not lose to the identity rotation (same trainer, same budget) —
    and the rotation must be orthogonal."""
    df, X = _anisotropic_fixture(spark)
    R_pq, books_pq = opq_train(df, m=4, k=16, opq_iters=0,
                               sample_size=384)
    R_opq, books_opq = opq_train(df, m=4, k=16, opq_iters=8,
                                 sample_size=384)
    assert np.allclose(R_pq, np.eye(8))
    assert np.allclose(R_opq @ R_opq.T, np.eye(8), atol=1e-9)
    r_pq = _adc_recall(X, R_pq, books_pq)
    r_opq = _adc_recall(X, R_opq, books_opq)
    assert r_opq >= r_pq, f"OPQ recall {r_opq} < PQ recall {r_pq}"
    assert r_opq >= 0.5, f"OPQ recall too low: {r_opq}"


def test_opq_rotate_matches_numpy(spark):
    from sptag_spark.operators.pq import opq_rotate_col

    df, X = _anisotropic_fixture(spark, n=64)
    R, _ = opq_train(df, m=4, k=8, opq_iters=2, sample_size=64)
    got = {r["vec_id"]: np.array(r["__rot"])
           for r in opq_rotate_col(df, R).collect()}
    want = X @ R
    for i in range(64):
        assert np.allclose(got[i], want[i], atol=1e-12)
