"""Product quantization (PQ): one encoder, integer ADC search and the
OPQ trainer.

The reference trains per-subspace k-means(256) codebooks and scores with
asymmetric distance (ADC) lookup tables (PQQuantizer.h:23-208, training
src/Quantizer/main.cpp:116-175, ADC tables PQQuantizer.h:111-130). Spark
restatement:

- train  = opq_train: numpy k-means per subspace on a deterministic
  hash-ordered sample collected to the driver (opq_iters=0 is plain PQ),
  or pq_codebooks_md5: the k md5-smallest rows, quantized, as integer
  codebooks;
- encode = _encode_codes, the one numpy encoder: per-subspace argmin of
  the squared L2 against each codebook, first-min tiebreak. The OPQ
  trainer, the ADC scan below and the IVF-PQ build (operators/ivfpq.py)
  all call it;
- ADC    = pq_adc_topk_int: per query, the m x k table of
  ||q_slice - codeword||^2 is built once on the driver, and each Arrow
  batch encodes its rows and sums table gathers (the LUT-probe
  structure of the reference's m_DistanceTables). All int64, so the
  DuckDB oracle reproduces it bit-exactly;
- reconstruct = pq_reconstruct, the codeword gather (OPQ's Procrustes
  step and the quantization-error tests).

Approximate by construction: tests gate recall vs an exact ranking
(reference TruthSet.h:242-285 harness shape).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sptag_spark.functions.vecarrow import list_to_matrix


def _encode_codes(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, dim) -> (n, m) int32 per-subspace argmin codes (squared L2,
    numpy first-min == lowest-code tiebreak; exact on int64 input)."""
    m, kk, dsub = codebooks.shape
    codes = np.empty((len(X), m), dtype=np.int32)
    for s in range(m):
        sl = X[:, s * dsub:(s + 1) * dsub]
        d = ((sl[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)
    return codes


def pq_reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Driver-side decode of a (n, m) code matrix -> (n, dim) vectors."""
    n, m = codes.shape
    return np.concatenate(
        [codebooks[s][codes[:, s]] for s in range(m)], axis=1
    )


# ---------------------------------------------------------------------------
# Integer PQ/ADC on deterministic sample codebooks — the oracle-checkable
# quantizer-APPLY path (training quality lives in opq_train; this
# isolates encode + ADC scoring so DuckDB can replicate them bit-exactly)
# ---------------------------------------------------------------------------

def pq_codebooks_md5(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(m, k, dim/m) int64 codebooks = the k rows with smallest md5(id)
    (the engine's deterministic-sample idiom, cf. knn.select_centroids),
    quantized JVM-side (HALF_UP) and sliced per subspace."""
    from sptag_spark.operators.knn import quantize

    rows = (
        df.select(id_col, quantize(F.col(vec_col)).alias("_q"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    full = np.array([r["_q"] for r in rows], dtype=np.int64)  # (k, dim)
    dim = full.shape[1]
    assert dim % m == 0
    dsub = dim // m
    return np.stack([full[:, s * dsub:(s + 1) * dsub] for s in range(m)])


def pq_adc_topk_int(
    df: DataFrame,
    codebooks: np.ndarray,
    query_q: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer PQ encode + ADC top-k: quantization stays a JVM
    expression (HALF_UP), then one numpy pass per Arrow batch encodes
    (_encode_codes) and sums ADC = Σ_s T_s[code_s], T from the same
    quantized ints on the driver. Every intermediate is int64
    (order-independent), so the DuckDB oracle reproduces values
    hash-exactly. An m×k expression-tree form of the
    same math compiles into one giant generated method and drops out of
    codegen — the Arrow kernel is both the faster and the scale shape
    (cf. knn.assign_buckets)."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from sptag_spark.operators.knn import quantize

    m, kk, dsub = codebooks.shape
    q = np.asarray(query_q, dtype=np.int64)
    assert q.shape[0] == m * dsub
    tables = np.stack([
        ((codebooks[s] - q[s * dsub:(s + 1) * dsub]) ** 2).sum(axis=1)
        for s in range(m)
    ])                                                    # (m, k) int64
    sel = df.select(F.col(id_col), quantize(F.col(vec_col)).alias("__q"))
    out_schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("adc_dist", LongType()),
    ])

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column("__q"), np.int64)
            if len(X) == 0:
                adc = np.array([], dtype=np.int64)
            else:
                codes = _encode_codes(X, codebooks)       # (n, m)
                adc = tables[np.arange(m), codes].sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), pa.array(adc, pa.int64())],
                names=[id_col, "adc_dist"],
            )

    return (
        sel.mapInArrow(run, schema=out_schema)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# OPQ: learned rotation before PQ (the reference's quality tier)
# ---------------------------------------------------------------------------

def _np_kmeans(X: np.ndarray, k: int, iters: int = 20) -> np.ndarray:
    """Deterministic driver-side Lloyd (init = first k sample rows, which
    arrive hash-ordered from the deterministic sample)."""
    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def opq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    opq_iters: int = 10,
    kmeans_iters: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ-NP training (reference OPQQuantizer.h:1-210, trainer
    Tools/OPQ/OPQ_gpu_train_infer.py, Training.h:62-150): alternate
    (fit PQ codebooks on rotated sample) with (orthogonal Procrustes
    update R = UVᵀ from SVD(XᵀY)) on a deterministic hash-ordered sample
    collected to the driver — the rotation is dim×dim (tiny); the corpus
    never leaves executors. opq_iters=0 degrades to plain PQ (R = I)
    with the same trainer, which is the controlled baseline tests use.

    Returns (R, codebooks) with R (dim, dim) and codebooks (m, k, dim/m);
    ivf_pq_build(rotation='opq') encodes and scores with them.
    """
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([[float(x) for x in r[vec_col]] for r in rows])
    dim = X.shape[1]
    assert dim % m == 0, "dim must divide into m subspaces"
    dsub = dim // m
    R = np.eye(dim)
    for _ in range(opq_iters):
        Xr = X @ R
        books = [
            _np_kmeans(Xr[:, s * dsub:(s + 1) * dsub], k, kmeans_iters)
            for s in range(m)
        ]
        B = np.stack(books)
        Y = pq_reconstruct(_encode_codes(Xr, B), B)
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    Xr = X @ R
    books = [
        _np_kmeans(Xr[:, s * dsub:(s + 1) * dsub], k, kmeans_iters)
        for s in range(m)
    ]
    return R, np.stack(books)


def opq_rotate_col(
    df: DataFrame,
    R: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "__rot",
) -> DataFrame:
    """Append `out_col` = vec @ R (float64) PRESERVING every other
    column — the composition shape ivfpq uses: assignment/encode read
    the rotated column while the postings keep the original embedding
    (orthogonal R preserves distances, so the exact re-rank stays in the
    original space). One dim×dim matmul per Arrow batch, zero shuffle."""
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType, DoubleType, StructField, StructType,
    )

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    names = [f.name for f in out_schema.fields]

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            n = len(X)
            rot = X @ R if n else np.zeros((0, R.shape[1]))
            dim = rot.shape[1]
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)),
                pa.array(rot.reshape(-1), pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(nm) for nm in names[:-1]] + [arr],
                names=names,
            )

    return df.mapInArrow(run, schema=out_schema)
