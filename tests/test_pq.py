"""PQ quantizer tests on the one encoder (pq._encode_codes) and the md5
integer codebooks: code shapes, integer ADC exactness through the Arrow
scan, and quantization error vs codebook size. ADC recall vs brute force
is gated on the composed index (test_ivfpq.py
test_recall_gate_vs_brute_force)."""

from __future__ import annotations

import numpy as np
import pytest

from sptag_spark.functions.vecarrow import np_quantize
from sptag_spark.operators.pq import (
    _encode_codes,
    pq_adc_topk_int,
    pq_codebooks_md5,
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


def pq_reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Decode a (n, m) code matrix -> (n, dim) vectors (codeword gather)."""
    n, m = codes.shape
    return np.concatenate(
        [codebooks[s][codes[:, s]] for s in range(m)], axis=1
    )


@pytest.fixture(scope="module")
def coded(emb, matrix):
    """md5 integer codebooks and the codes of the quantized corpus."""
    books = pq_codebooks_md5(emb, m=M, k=K)
    return books, _encode_codes(np_quantize(matrix[1]), books)


def test_shapes_and_code_range(emb, matrix, coded):
    books, codes = coded
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
    Q = np_quantize(matrix[1])

    def mse(k):
        books = pq_codebooks_md5(emb, m=4, k=k)
        recon = pq_reconstruct(_encode_codes(Q, books), books)
        return float(((Q - recon) ** 2).mean())

    assert mse(16) < mse(2)
