"""Gap-based sessionization, batch form.

session_id(entity) = cumulative count of gaps > threshold in event-time
order — the standard cumulative-sum trick: one shuffle on the entity key,
one sort, two running window expressions, all JVM-side.

The engine sessionizes in batch only; the `sessionize` and `session_agg`
contract queries check this form against DuckDB.

Reference analog: SPTAG has no event-time sessions, but its split/merge
maintenance groups contiguous activity per partition
(ExtraDynamicSearcher.h:637-1146); sessionization is the same
"segment a per-key ordered stream by a locality rule" computation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign 0-based per-key session ids; new session when the gap since
    the previous event is strictly greater than ``gap_seconds``."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts))
    prev_us = F.lag(F.unix_micros(F.col(ts).cast("timestamp"))).over(w)
    gap_us = F.unix_micros(F.col(ts).cast("timestamp")) - prev_us
    is_new = F.when(
        prev_us.isNull() | (gap_us > gap_seconds * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "*", (F.sum(is_new).over(run) - F.lit(1)).cast("bigint").alias(session_col)
    )


def session_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    gap_seconds: int,
    value_col: str | None = None,
) -> DataFrame:
    """Per-session rollup: bounds, event count, duration, optional value agg.

    Two shuffles total at most — and in practice ONE: the groupBy keys are a
    superset of the sessionize window keys, so Catalyst reuses the existing
    hash partitioning for the aggregation (no second Exchange).
    """
    sess = sessionize(df, keys, ts, gap_seconds)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        (
            (F.unix_micros(F.max(ts).cast("timestamp")) - F.unix_micros(F.min(ts).cast("timestamp"))) / F.lit(1_000_000.0)
        ).alias("duration_sec"),
    ]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    return sess.groupBy(*keys, "session_id").agg(*aggs)
