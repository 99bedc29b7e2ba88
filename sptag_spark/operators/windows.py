"""Windowed feature operators: lag/lead, rolling frames, backfill.

The reference's windows are all "top-k within a group" (QueryResultSet.h
bounded heap, posting truncation ExtraStaticSearcher.h:781-846); Spark's
Window covers those natively (see topk.py). The features the north rule
adds — lag/lead, rolling row/range frames, last-non-null backfill — are
declared here as pure Column expressions so they stay inside whole-stage
codegen: no Python executes per row.

Scale notes (100 TB): every spec here shares ONE shuffle — all windows use
the same partitionBy(keys) so Spark plans a single Exchange + Sort and
evaluates every feature in the same WindowExec pass. Running frames
(unboundedPreceding) are streaming; bounded ROWS frames keep a ring buffer;
RANGE frames use the sliding-frame evaluator — all O(n) per partition.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

AGGS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def _order_cols(order_by: Sequence[str]) -> list[Column]:
    return [F.col(c) for c in order_by]


def with_lag_lead(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    cols: Iterable[str],
    offsets: Sequence[int] = (1,),
) -> DataFrame:
    """Add lag_{col}_{n} and lead_{col}_{n} for each col × offset."""
    w = Window.partitionBy(*keys).orderBy(*_order_cols(order_by))
    out = df
    exprs = []
    for c in cols:
        for n in offsets:
            exprs.append(F.lag(c, n).over(w).alias(f"lag_{c}_{n}"))
            exprs.append(F.lead(c, n).over(w).alias(f"lead_{c}_{n}"))
    return out.select("*", *exprs)


def rolling_rows(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    col: str,
    n_rows: int,
    aggs: Sequence[str] = ("sum", "avg", "count"),
    prefix: str | None = None,
) -> DataFrame:
    """Rolling aggregates over the last ``n_rows`` rows (inclusive)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(-(n_rows - 1), Window.currentRow)
    )
    prefix = prefix or f"roll{n_rows}r"
    exprs = [AGGS[a](col).over(w).alias(f"{prefix}_{a}_{col}") for a in aggs]
    return df.select("*", *exprs)


def rolling_range_seconds(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    col: str,
    window_seconds: int,
    aggs: Sequence[str] = ("sum", "count"),
    prefix: str | None = None,
) -> DataFrame:
    """Rolling aggregates over a trailing event-time window (inclusive).

    RANGE frames need a numeric sort key; we order by epoch microseconds so
    sub-second timestamps stay exact (unix_micros is a long — no float
    rounding of event time).
    """
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(us)
        .rangeBetween(-(window_seconds * 1_000_000), Window.currentRow)
    )
    prefix = prefix or f"roll{window_seconds}s"
    exprs = [AGGS[a](col).over(w).alias(f"{prefix}_{a}_{col}") for a in aggs]
    return df.select("*", *exprs)


def backfill(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    cols: Iterable[str],
    suffix: str = "_filled",
) -> DataFrame:
    """Last-observation-carried-forward per key (null-safe running last).

    The reference analog is version-resolution: the visible value of an
    entity at time t is its latest write <= t
    (ExtraDynamicSearcher.h:680); backfill is that rule applied columnwise.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    exprs = [
        F.last(c, ignorenulls=True).over(w).alias(f"{c}{suffix}") for c in cols
    ]
    return df.select("*", *exprs)
