"""Comparison helpers: Spark DataFrame vs pandas oracle, order-insensitive.

Mirrors the driver's compare (sort columns by name, order-insensitive row
hash) but keeps full-row diffs for debuggability. Timestamps normalized to
microsecond resolution (Spark→pandas yields ns, DuckDB yields us).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(dt):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
    df = df[sorted(df.columns)]
    sort_cols = [c for c in df.columns if not isinstance(df[c].iloc[0] if len(df) else None, (list, np.ndarray))]
    if sort_cols:
        df = df.sort_values(sort_cols, kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def assert_df_equal(
    spark_df, oracle_pd: pd.DataFrame, rtol: float = 1e-6, atol: float = 1e-9
) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(oracle_pd)
    assert list(got.columns) == list(want.columns), (
        f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g.dtype):
            both_nan = g.isna() & w.isna()
            close = np.isclose(g.fillna(0), w.fillna(0), rtol=rtol, atol=atol)
            ok = (both_nan | (close & (g.isna() == w.isna()))).all()
        elif len(g) and isinstance(g.iloc[0], (list, np.ndarray)):
            ok = all(
                np.array_equal(np.asarray(a), np.asarray(b))
                for a, b in zip(g, w)
            )
        else:
            ok = g.equals(w)
        if not ok:
            bad = ~(g.astype(str) == w.astype(str))
            raise AssertionError(
                f"column {c!r} differs; first bad rows:\n"
                f"got:\n{got[bad].head()}\nwant:\n{want[bad].head()}"
            )


def count_exchanges(spark_df) -> int:
    """Count physical Exchange nodes in the formatted plan (numbered detail
    entries only, so the tree rendering isn't double-counted)."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark_df.explain("formatted")
    return len(re.findall(r"^\(\d+\) Exchange", buf.getvalue(), re.MULTILINE))


def union_exchanges(spark_df) -> tuple[int, int, int]:
    """Exchanges in the initial physical plan of an as-of union: above the
    Union, under its first (probe) child and under its second (data)
    child."""
    plan = spark_df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    node, above = plan, 0
    while node.getClass().getSimpleName() != "UnionExec":
        above += node.getClass().getSimpleName() == "ShuffleExchangeExec"
        node = node.children().apply(0)
    sides = [node.children().apply(i).toString() for i in range(2)]
    return (above, *(s.count("Exchange hashpartitioning") for s in sides))
