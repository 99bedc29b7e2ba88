"""Token-array feature kernels.

Two tiers, mirroring the reference's scalar-vs-SIMD kernel split
(DistanceUtils.h:122-167 runtime ISA dispatch):

- Column-expression tier (JVM, whole-stage codegen): array aggregates via
  ``F.aggregate``/``F.size``/``F.array_*`` — the "scalar oracle" and the
  right choice when features are simple reductions.
- Arrow tier (``with_arrow_token_features`` via mapInArrow): ragged token
  arrays processed as one flat numpy buffer + offsets per Arrow batch —
  zero per-row Python, vectorized ops only (np.add.reduceat). This is the
  engine's SIMD path; the fingerprint is a positional polynomial rolling
  hash (reference analog: checksum F11, ExtraDynamicSearcher.h:704).

Both tiers are tested to agree (reference DistanceTest.cpp:114-121
SIMD == scalar equivalence).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# Fingerprint: sum(t_i * 31^i) mod p with p = 2^31-1 (Mersenne prime).
# mod-p keeps every intermediate inside int64 (ANSI-safe on the JVM, exact
# in numpy) and is expressible in ANSI SQL for the DuckDB oracle.
FP_MOD = 2147483647
_MAX_LEN = 4096
_POWS = np.empty(_MAX_LEN, dtype=np.int64)
_POWS[0] = 1
for _i in range(1, _MAX_LEN):
    _POWS[_i] = (_POWS[_i - 1] * 31) % FP_MOD


# --- column-expression tier -------------------------------------------------

def token_sum(tokens: Column) -> Column:
    return F.aggregate(tokens, F.lit(0).cast("long"), lambda s, x: s + x)


def token_mean(tokens: Column) -> Column:
    return token_sum(tokens) / F.size(tokens)


def distinct_token_count(tokens: Column) -> Column:
    return F.size(F.array_distinct(tokens))


def frac_tokens_below(tokens: Column, threshold: int) -> Column:
    small = F.size(F.filter(tokens, lambda x: x < F.lit(threshold)))
    return small / F.size(tokens)


def token_fingerprint_expr(tokens: Column) -> Column:
    """Positional polynomial hash sum(t_i * 31^i) mod (2^31-1), as i64.

    Every intermediate stays below 2^63 (ANSI-mode safe): per-term product
    < 2^31 * 2^31, reduced mod p immediately; the running sum of <=4096
    reduced terms < 2^43. Bit-identical to the numpy kernel.
    """
    start = F.struct(
        F.lit(0).cast("long").alias("acc"), F.lit(1).cast("long").alias("pw")
    )
    folded = F.aggregate(
        tokens,
        start,
        lambda s, x: F.struct(
            (s["acc"] + F.pmod(x.cast("long") * s["pw"], F.lit(FP_MOD))).alias("acc"),
            F.pmod(s["pw"] * F.lit(31), F.lit(FP_MOD)).alias("pw"),
        ),
    )
    return F.pmod(folded["acc"], F.lit(FP_MOD))


def with_token_features_expr(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    t = F.col(tokens_col)
    return df.select(
        "*",
        token_sum(t).alias("tok_sum"),
        token_mean(t).alias("tok_mean"),
        distinct_token_count(t).cast("long").alias("tok_distinct"),
        frac_tokens_below(t, 1000).alias("tok_frac_small"),
        token_fingerprint_expr(t).alias("tok_fingerprint"),
    )


# --- Arrow tier ---------------------------------------------------------------

_ARROW_FEATURES = [
    ("tok_sum", LongType()),
    ("tok_mean", DoubleType()),
    ("tok_distinct", LongType()),
    ("tok_frac_small", DoubleType()),
    ("tok_fingerprint", LongType()),
]


def arrow_features_schema(
    base_schema: StructType, drop: tuple[str, ...] = ()
) -> StructType:
    return StructType(
        [f for f in base_schema.fields if f.name not in drop]
        + [StructField(n, t, True) for n, t in _ARROW_FEATURES]
    )


def _batch_features(tokens_arr: pa.Array, small_threshold: int = 1000) -> dict:
    """Vectorized features over one Arrow ListArray of int32 tokens.

    Bandwidth-lean by design (the kernel is memory-bound, not FLOP-bound):
    the flat token buffer stays int32 end-to-end (row sums of <=4096
    tokens, each < 2^16, stay < 2^28 < 2^31, so int32 reduceat cannot
    overflow), and
    the distinct-count sort runs on uint32 keys (row_id<<16 | token) —
    legal because vocab < 2^16 and Arrow batches are capped at 2^16 rows
    (session.py maxRecordsPerBatch) — halving the bytes the sort moves.
    """
    if isinstance(tokens_arr, pa.ChunkedArray):
        tokens_arr = tokens_arr.combine_chunks()
    la = tokens_arr
    # A sliced ListArray keeps its parent's offsets while ``values`` is
    # the whole parent child array: rebase both onto the slice.
    offsets = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat32 = la.values.slice(offsets[0], offsets[-1] - offsets[0]) \
        .to_numpy(zero_copy_only=False)
    offsets -= offsets[0]
    starts, ends = offsets[:-1], offsets[1:]
    lens = ends - starts
    n = len(lens)
    # reduceat requires indices < len(values); empty rows (start==end, or
    # start==len at the tail) are masked to 0 after the fact.
    safe_starts = np.minimum(starts, max(len(flat32) - 1, 0))
    if len(flat32) == 0:
        z = np.zeros(n)
        return {
            "tok_sum": z.astype(np.int64),
            "tok_mean": z,
            "tok_distinct": z.astype(np.int64),
            "tok_frac_small": z,
            "tok_fingerprint": z.astype(np.int64),
        }
    vmax = int(flat32.max(initial=0))
    narrow = n <= (1 << 16) and vmax < (1 << 16)
    # int32 accumulation is safe only when vocab*maxlen < 2^31 — guaranteed
    # on the narrow path (2^16 * 4096 = 2^28); wide vocabs accumulate int64
    sums = np.add.reduceat(
        flat32 if narrow else flat32.astype(np.int64), safe_starts
    ).astype(np.int64)
    sums[lens == 0] = 0
    means = np.divide(sums, lens, out=np.zeros(n), where=lens > 0)
    small = np.add.reduceat((flat32 < small_threshold).astype(np.int32),
                            safe_starts).astype(np.int64)
    small[lens == 0] = 0
    frac_small = np.divide(small, lens, out=np.zeros(n), where=lens > 0)
    assert lens.max(initial=0) <= _MAX_LEN, "row longer than fingerprint table"
    # distinct per row: unstable sort of packed (row_id, token) keys, then
    # count segment-local value changes. Fast path packs into uint32 (half
    # the sort bandwidth) when vocab < 2^16 and batch rows <= 2^16 (the
    # session's maxRecordsPerBatch guarantees the latter); wide-vocab
    # tokenizers (e.g. 100k BPE) take the int64 path automatically.
    if narrow:
        row_id = np.repeat(np.arange(n, dtype=np.uint32), lens)
        keyed = (row_id << np.uint32(16)) | flat32.astype(np.uint32)
    else:
        row_id64 = np.repeat(np.arange(n, dtype=np.int64), lens)
        keyed = (row_id64 << np.int64(32)) | flat32.astype(np.int64)
    keyed.sort()
    new_val = np.empty(len(keyed), dtype=bool)
    new_val[0] = True
    np.not_equal(keyed[1:], keyed[:-1], out=new_val[1:])
    distinct = np.add.reduceat(new_val.astype(np.int32),
                               safe_starts).astype(np.int64)
    distinct[lens == 0] = 0
    # positional polynomial fingerprint mod p; int32*int64 promotes to
    # int64, exact (max product < 2^16 * 2^31)
    pos = np.arange(len(flat32), dtype=np.int64) - np.repeat(starts, lens)
    contrib = (flat32 * _POWS[pos]) % FP_MOD
    fp = np.add.reduceat(contrib, safe_starts) % FP_MOD
    fp[lens == 0] = 0
    return {
        "tok_sum": sums,
        "tok_mean": means,
        "tok_distinct": distinct,
        "tok_frac_small": frac_small,
        "tok_fingerprint": fp.astype(np.int64),
    }


def with_arrow_token_features(
    df: DataFrame,
    tokens_col: str = "tokens",
    drop_tokens: bool = False,
) -> DataFrame:
    """drop_tokens=True omits the token arrays from the output batches —
    they are by far the widest column, and when downstream stages only
    consume the features this halves the Python->JVM Arrow traffic."""
    drop = (tokens_col,) if drop_tokens else ()
    out_schema = arrow_features_schema(df.schema, drop=drop)
    keep_idx = [i for i, f in enumerate(df.schema.fields)
                if f.name not in drop]

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats = _batch_features(batch.column(tokens_col))
            arrays = [batch.column(i) for i in keep_idx] + [
                pa.array(feats["tok_sum"], pa.int64()),
                pa.array(feats["tok_mean"], pa.float64()),
                pa.array(feats["tok_distinct"], pa.int64()),
                pa.array(feats["tok_frac_small"], pa.float64()),
                pa.array(feats["tok_fingerprint"], pa.int64()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_schema.fields]
            )

    return df.mapInArrow(compute, schema=out_schema)
