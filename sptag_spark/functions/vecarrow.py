"""Zero-copy Arrow list-column -> numpy matrix ingestion for the vector
kernels (assign/probe/sketch/ADC).

`np.array(col.to_pylist())` materializes a Python list-of-lists per batch
— per-element PyObject allocation, exactly the allocator churn the Arrow
workers exist to avoid (CLAUDE.md rule 13). For fixed-dim vector columns
the ListArray's values buffer IS the matrix: reshape it (one dtype cast
at most; no per-element boxing). Ragged or null rows fall back to the
copying path, preserving the previous contract.
"""

from __future__ import annotations

import numpy as np


def np_quantize(X: np.ndarray) -> np.ndarray:
    """Exact numpy twin of knn.quantize (JVM round(x*1000D) -> long,
    HALF_UP): lets kernels ingest RAW float vectors — half the shuffle
    bytes of a pre-quantized int64 column and no per-row JVM array
    allocation (CLAUDE.md rule 13) — while staying bit-identical to the
    expression path.

    np.rint is HALF_EVEN; exact-tie rows (y - floor(y) == 0.5, an exact
    float predicate) are overridden to away-from-zero, which is
    precisely BigDecimal HALF_UP on the same double. The multiply
    itself is the same IEEE double product the JVM computes."""
    Y = np.asarray(X, dtype=np.float64) * 1000.0
    out = np.rint(Y)
    fl = np.floor(Y)
    tie = (Y - fl) == 0.5
    if tie.any():
        out = np.where(tie, np.where(Y > 0, fl + 1.0, fl), out)
    return out.astype(np.int64)


def exact_int_matmul(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """A @ B for integer matrices, bit-exact, BLAS-fast when provable.

    numpy's int64 matmul is a naive C triple loop (no BLAS). When
    max|A| * max|B| * inner_dim < 2^53 every product AND every partial
    sum is exactly representable in float64, so dgemm + rint is the
    SAME int64 result an order of magnitude faster — the quantized
    vectors this repo scores (|x| ~ round(float*1000)) always qualify;
    the int64 path remains as the overflow-proof fallback."""
    inner = A.shape[-1] if A.ndim >= 1 else 0
    ma = int(np.abs(A).max()) if A.size else 0
    mb = int(np.abs(B).max()) if B.size else 0
    if ma * mb * max(inner, 1) < 2**53:
        return np.rint(
            A.astype(np.float64) @ B.astype(np.float64)
        ).astype(np.int64)
    return A @ B


def list_to_matrix(col, dtype) -> np.ndarray:
    """pyarrow List/LargeList array of fixed-dim numeric vectors ->
    (n, dim) numpy matrix of `dtype`.

    Zero-copy on the values buffer when the source type already matches
    `dtype`; otherwise one vectorized astype. Row boundaries come from
    the offsets buffer (absolute indices into values, so sliced arrays
    are handled); uniform widths are verified in O(n) int ops — trivial
    next to the matmul the matrix feeds.
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    offs = col.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    dim = int(widths[0]) if len(widths) else 0
    # col.values.null_count guards ELEMENT-level nulls ([1.0, null, 2.0]):
    # the buffer path would cast their NaN to INT64_MIN silently, where
    # np.array(to_pylist) raises loudly — keep the loud contract.
    if (col.null_count or col.values.null_count or dim == 0
            or not (widths == dim).all()):
        return np.array(col.to_pylist(), dtype=dtype)
    flat = col.values.to_numpy(zero_copy_only=False)
    flat = flat[offs[0]:offs[-1]]
    return np.asarray(flat.reshape(n, dim), dtype=dtype)
