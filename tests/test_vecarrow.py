"""Arrow ingestion and quantization helpers of functions/vecarrow.py:
zero-copy list_to_matrix against to_pylist, its null contract, and
np_quantize against the JVM quantize expression."""

from __future__ import annotations


def test_list_to_matrix_matches_to_pylist_property():
    """Property: the zero-copy ingestion equals np.array(to_pylist) for
    any fixed-dim numeric list array, under slicing and both dtypes."""
    import numpy as np
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sptag_spark.functions.vecarrow import list_to_matrix

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=40),
        dim=st.integers(min_value=1, max_value=9),
        off=st.integers(min_value=0, max_value=10),
        float_src=st.booleans(),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(n, dim, off, float_src, seed):
        rng = np.random.default_rng(seed)
        if float_src:
            data = rng.random((n + off, dim), dtype=np.float32)
            arr = pa.array([list(map(float, r)) for r in data],
                           type=pa.list_(pa.float32()))
            tgt = np.float64
        else:
            data = rng.integers(-10**6, 10**6, (n + off, dim))
            arr = pa.array([list(map(int, r)) for r in data],
                           type=pa.list_(pa.int64()))
            tgt = np.int64
        sliced = arr.slice(off, n)
        got = list_to_matrix(sliced, tgt)
        want = np.array(sliced.to_pylist(), dtype=tgt)
        if n == 0:
            assert got.size == 0
        else:
            assert got.shape == want.shape
            assert (got == want).all()

    check()


def test_list_to_matrix_element_nulls_keep_loud_contract():
    """Element-level nulls ([1.0, null, 2.0]) must fall back to the
    copying path: int64 targets raise TypeError (the old to_pylist
    behavior) instead of the values buffer silently casting NaN to
    INT64_MIN; float64 targets yield NaN, same as before."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from sptag_spark.functions.vecarrow import list_to_matrix

    arr = pa.array([[1.0, None, 2.0], [3.0, 4.0, 5.0]],
                   type=pa.list_(pa.float32()))
    with pytest.raises(TypeError):
        list_to_matrix(arr, np.int64)
    got = list_to_matrix(arr, np.float64)
    assert np.isnan(got[0, 1]) and got[1, 2] == 5.0


def test_np_quantize_matches_jvm_quantize(spark):
    """vecarrow.np_quantize must be BIT-identical to the JVM
    knn.quantize expression (round(x*1000D) HALF_UP) — kernels that
    ingest raw floats and quantize in numpy depend on it. Covers the
    HALF_UP/HALF_EVEN divergence: odd multiples of 0.0625 make
    x*1000 an exact k.5 tie (np.rint alone would round half of them
    the other way)."""
    import numpy as np

    from pyspark.sql import functions as F

    from sptag_spark.functions.vecarrow import np_quantize
    from sptag_spark.operators.knn import quantize

    rng = np.random.default_rng(7)
    ties = np.array([a * 0.0625 for a in
                     (-7, -5, -3, -1, 1, 3, 5, 7, 9, 1001)], np.float32)
    vals = np.concatenate([
        ties,
        rng.standard_normal(500).astype(np.float32),
        (rng.standard_normal(100) * 1e4).astype(np.float32),
        np.array([0.0, -0.0, 0.0005, -0.0005], np.float32),
    ])
    assert ((ties.astype(np.float64) * 1000.0) % 1 == 0.5).all()
    df = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate(vals)], "i long, v array<float>"
    )
    jvm = {r["i"]: r["q"][0] for r in
           df.select("i", quantize(F.col("v")).alias("q")).collect()}
    got = np_quantize(vals.reshape(-1, 1)).reshape(-1)
    for i, v in enumerate(vals):
        assert got[i] == jvm[i], (i, float(v), got[i], jvm[i])
