"""Versioned upsert and tombstones — the batch restatement of the
reference's fresh-update layer.

SPTAG tracks a per-row uint8 version; a posting entry is visible only if
its stored version equals the current version (ExtraDynamicSearcher.h:680)
and deletes are version 0xfe tombstones (VersionLabel.h:36-57). The
relational equivalents, each one shuffle or less:

- upsert_latest: union base+updates, keep the highest (version, ts) row
  per key — Iceberg MERGE INTO semantics as a window;
- apply_deletes: left_anti against the tombstone set (Iceberg delete
  files; reference Labelset P2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    version_col: str | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one row per key: the max (version, ts, tiebreak...)
    across base ∪ updates. Column sets must match (unionByName)."""
    unioned = base.unionByName(updates)
    order = []
    if version_col:
        order.append(F.col(version_col).desc())
    order.append(F.col(ts_col).desc())
    for t in tiebreak or []:
        order.append(F.col(t).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_deletes(df: DataFrame, deletes: DataFrame,
                  keys: list[str]) -> DataFrame:
    """Tombstone filter: drop rows whose key appears in `deletes`."""
    return df.join(deletes.select(*keys).distinct(), keys, "left_anti")

