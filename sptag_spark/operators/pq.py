"""Product quantization (PQ): one encoder and integer ADC search.

The reference trains per-subspace k-means(256) codebooks and scores with
asymmetric distance (ADC) lookup tables (PQQuantizer.h:23-208, ADC
tables PQQuantizer.h:111-130). Spark restatement:

- codebooks = pq_codebooks_md5: the k md5-smallest rows, quantized, as
  integer codebooks. The reference's trained tiers (k-means PQ and the
  OPQ rotation, OPQQuantizer.h:1-210) are not carried: no job or
  contract query built them;
- encode = _encode_codes, the one numpy encoder: per-subspace argmin of
  the squared L2 against each codebook, first-min tiebreak. The ADC scan
  below and the IVF-PQ build (operators/ivfpq.py) both call it;
- ADC    = pq_adc_topk_int: per query, the m x k table of
  ||q_slice - codeword||^2 is built once on the driver, and each Arrow
  batch encodes its rows and sums table gathers (the LUT-probe
  structure of the reference's m_DistanceTables). All int64, so the
  DuckDB oracle reproduces it bit-exactly.

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
