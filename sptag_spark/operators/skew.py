"""Skew handling: stats-driven salting for hot keys.

The reference equalizes partition sizes with a lambda-penalized k-means
(BKTree.h:219-333) and auto-tunes the penalty from observed counts
(DynamicFactorSelect, BKTree.h:437-486). The relational equivalents:

- plan_salts: measure per-key counts (one cheap agg — the 'observed
  partition sizes' input), assign each hot key ceil(count/target) salts;
- salted_agg: two-phase aggregation — partial agg on (key, salt), final
  agg on key. Any algebraic aggregate (sum/count/min/max) composes; avg
  is derived sum/count at the end.

AQE's skew-join splitting handles runtime stragglers; explicit salting is
for the *planned* hot keys (doc_id/source) where the skew is data-law,
not accident — at 10^12 rows a single 'web' source key would otherwise
pin one reducer.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def key_counts(df: DataFrame, key: str) -> DataFrame:
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))


def plan_salts(
    df: DataFrame, key: str, target_rows_per_task: int = 1_000_000,
    max_salts: int = 1024,
) -> dict:
    """Stats pass -> {key_value: n_salts} for keys needing > 1 task.
    The driver-side twin of DynamicFactorSelect: salt counts derive from
    observed counts, not guesses. The returned map is tiny (hot keys
    only) and broadcasts implicitly as expression literals."""
    rows = key_counts(df, key).filter(
        F.col("n") > target_rows_per_task
    ).collect()
    return {
        r[key]: min(max_salts, math.ceil(r["n"] / target_rows_per_task))
        for r in rows
    }


def _salt_expr(key: str, salt_map: dict, jitter: Column) -> Column:
    """n_salts for this row's key (1 if not hot), then jitter % n."""
    n = F.lit(1)
    for kv, s in salt_map.items():
        n = F.when(F.col(key) == F.lit(kv), F.lit(int(s))).otherwise(n)
    return F.pmod(jitter, n).cast("int")


# Beyond this many hot keys a when-chain expression stops being the right
# plan (one branch per key, evaluated per row); switch to a broadcast
# map-side join against a tiny (key, n_salts) frame.
_WHEN_CHAIN_MAX = 64

_NSALTS_COL = "__n_salts"


def _row_jitter(df: DataFrame) -> Column:
    """Deterministic per-row jitter: hash of the full row CONTENT.

    monotonically_increasing_id()/rand() are nondeterministic across task
    retries — on a fetch failure the recomputed rows could land in
    different salt buckets than copies already consumed downstream,
    silently double-counting or dropping rows. Content-derived hashes
    reproduce exactly under recomputation (identical rows share a salt,
    which is harmless: they are interchangeable in any agg/join)."""
    return F.xxhash64(*[F.col(c) for c in df.columns])


def _with_nsalts(df: DataFrame, key: str, salt_map: dict) -> DataFrame:
    """Attach per-row salt count (1 for cold keys) via broadcast join —
    the scale path when the hot-key set outgrows a when-chain."""
    spark = df.sparkSession
    hot = spark.createDataFrame(
        [(k, int(v)) for k, v in salt_map.items()],
        schema=f"{key} {df.schema[key].dataType.simpleString()}, "
               f"{_NSALTS_COL} int",
    )
    return df.join(F.broadcast(hot), key, "left").withColumn(
        _NSALTS_COL, F.coalesce(F.col(_NSALTS_COL), F.lit(1))
    )


def _with_salt(df: DataFrame, key: str, salt_map: dict) -> DataFrame:
    """df + SALT_COL (deterministic, uniform within each hot key)."""
    if len(salt_map) <= _WHEN_CHAIN_MAX:
        return df.withColumn(
            SALT_COL, _salt_expr(key, salt_map, _row_jitter(df))
        )
    jit = _row_jitter(df)
    return _with_nsalts(df, key, salt_map).withColumn(
        SALT_COL, F.pmod(jit, F.col(_NSALTS_COL)).cast("int")
    ).drop(_NSALTS_COL)


def salted_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    salt_map: dict | None = None,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """groupBy(key).agg(sum, count, min, max, avg) in two phases so no
    single reducer owns a hot key. Result is identical to the direct
    aggregation (tested + oracle-checked).

    NOTE on floats: two-phase summation changes addition order, so on
    float columns the result is the usual non-associative-FP answer, not
    bit-identical to a single-phase plan (Spark's own partial aggregation
    has the same property). Use integral/decimal values where bit-exact
    reproducibility is required — every oracle-checked sum in this repo
    does (see __spark_entry__ docstring)."""
    if salt_map is None:
        salt_map = plan_salts(df, key, target_rows_per_task)
    salted = _with_salt(df, key, salt_map)
    partial = salted.groupBy(key, SALT_COL).agg(
        F.sum(value_col).alias("_s"),
        F.count(value_col).alias("_c"),
        F.min(value_col).alias("_mn"),
        F.max(value_col).alias("_mx"),
    )
    return partial.groupBy(key).agg(
        F.sum("_s").alias(f"sum_{value_col}"),
        F.sum("_c").alias(f"count_{value_col}"),
        F.min("_mn").alias(f"min_{value_col}"),
        F.max("_mx").alias(f"max_{value_col}"),
    ).withColumn(
        f"avg_{value_col}",
        F.col(f"sum_{value_col}").cast("double") / F.col(f"count_{value_col}"),
    )

