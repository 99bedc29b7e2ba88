"""Product quantization (PQ) — compressed vectors + ADC search.

The reference trains per-subspace k-means(256) codebooks and scores with
asymmetric distance (ADC) lookup tables (PQQuantizer.h:23-208, training
src/Quantizer/main.cpp:116-175, ADC tables PQQuantizer.h:111-130). Spark
restatement:

- train  = opq_train: numpy k-means per subspace on a deterministic
  hash-ordered sample collected to the driver (opq_iters=0 is plain PQ);
- encode = per-slice argmin against codebook literals, emitting
  array<int> codes — one codegen scan, 4 bytes/subspace here
  (uint8 at rest via parquet dictionary encoding);
- ADC    = per query, precompute the m x k table of
  ||q_slice - codeword||^2 on the driver (tiny numpy), inline it as
  array literals, and score every encoded row with m element_at gathers
  + adds — no Python, no join, whole-stage codegen (the exact LUT-probe
  structure of the reference's m_DistanceTables);
- reconstruct = codeword gather, for residual/debug use.

Approximate by construction: tests gate recall vs brute_force_topk
(reference TruthSet.h:242-285 harness shape).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sptag_spark.functions.vecarrow import list_to_matrix


def _slice_col(vec_col: str, start: int, length: int) -> Column:
    return F.slice(F.col(vec_col), start + 1, length)


def _argmin_code(vec_slice: Column, codebook: np.ndarray) -> Column:
    """Index of the nearest codeword (squared L2), lowest-index tiebreak."""
    dists = F.array(*[
        F.aggregate(
            F.zip_with(
                vec_slice,
                F.array(*[F.lit(float(x)) for x in cw]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for cw in codebook
    ])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> of length m) — one codegen scan."""
    m, _, dsub = codebooks.shape
    codes = F.array(*[
        _argmin_code(_slice_col(vec_col, s * dsub, dsub), codebooks[s])
        for s in range(m)
    ])
    return df.select(F.col(id_col), codes.alias("codes"))


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
    expression (HALF_UP), then one numpy pass per Arrow batch computes
    per-subspace argmin codes (first-index tiebreak) and ADC =
    Σ_s T_s[code_s], T from the same quantized ints on the driver. Every
    intermediate is int64 (order-independent), so the DuckDB oracle
    reproduces values hash-exactly. An m×k expression-tree form of the
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
                adc = np.zeros(len(X), dtype=np.int64)
                for s in range(m):
                    sl = X[:, s * dsub:(s + 1) * dsub]
                    d = ((sl[:, None, :] - codebooks[s][None, :, :]) ** 2
                         ).sum(axis=2)                    # (n, k) exact
                    adc += tables[s][d.argmin(axis=1)]    # first-min tie
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


def _np_encode_reconstruct(Xr: np.ndarray, books: list[np.ndarray],
                           dsub: int) -> np.ndarray:
    parts = []
    for s, B in enumerate(books):
        sl = Xr[:, s * dsub:(s + 1) * dsub]
        codes = ((sl[:, None, :] - B[None, :, :]) ** 2).sum(-1).argmin(1)
        parts.append(B[codes])
    return np.concatenate(parts, axis=1)


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
    encode/score with opq_encode / opq_adc_topk.
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
        Y = _np_encode_reconstruct(Xr, books, dsub)
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    Xr = X @ R
    books = [
        _np_kmeans(Xr[:, s * dsub:(s + 1) * dsub], k, kmeans_iters)
        for s in range(m)
    ]
    return R, np.stack(books)


def opq_rotate(
    df: DataFrame,
    R: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec) -> (id, vec @ R): one float64 matmul per Arrow batch
    (dim×dim rotation rides in the closure — no join, no shuffle)."""
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType, DoubleType, StructField, StructType,
    )

    out_schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField(vec_col, ArrayType(DoubleType())),
    ])
    sel = df.select(id_col, vec_col)

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            rot = X @ R if len(X) else X.reshape(0, R.shape[1])
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col),
                 pa.array(list(rot), pa.list_(pa.float64()))],
                names=[id_col, vec_col],
            )

    return sel.mapInArrow(run, schema=out_schema)


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


def opq_encode(
    df: DataFrame,
    R: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rotate (Arrow matmul) then PQ-encode (codegen argmin scan)."""
    return pq_encode(opq_rotate(df, R, id_col, vec_col), codebooks,
                     id_col, vec_col)


def opq_adc_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    R: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k in the rotated space: rotations are orthogonal, so
    ||q - x|| == ||qR - xR|| and the query rotates on the driver."""
    q = np.asarray(query_vec, dtype=np.float64) @ R
    return pq_adc_topk(encoded, codebooks, list(q), k, id_col)


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: approx ||q - x||^2 = sum_s T_s[code_s]
    with T_s[j] = ||q_s - codeword_sj||^2 (PQQuantizer.h:111-130)."""
    m, kk, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    assert q.shape[0] == m * dsub
    dist = F.lit(0.0)
    for s in range(m):
        qs = q[s * dsub:(s + 1) * dsub]
        table = ((codebooks[s] - qs) ** 2).sum(axis=1)  # (k,)
        tlit = F.array(*[F.lit(float(t)) for t in table])
        dist = dist + F.element_at(tlit, F.element_at("codes", s + 1) + 1)
    return (
        encoded.withColumn("adc_dist", dist)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "adc_dist")
    )
