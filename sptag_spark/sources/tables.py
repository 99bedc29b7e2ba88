"""Parquet table loaders for the driver-generated test corpus.

The reference's readers (DEFAULT/XVEC/TXT, SURVEY.md S1-S4) all collapse to
schema-on-read parquet scans here; Catalyst handles predicate pushdown and
column pruning so callers should filter/select as early as possible and let
the scan prune.

``read_parquet`` reads a Spark-written directory without Spark's schema
inference job: the schema inference would return is already in each part
file's footer.
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the first part file's footer of a local
    directory holding only part files, or None when there is no such
    schema to trust (another URI scheme, partition subdirectories,
    summary files, no part file, a footer without Spark's key)."""
    import pyarrow.parquet as pq

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    parts = []
    for entry in os.scandir(local):
        if entry.name.startswith(("_", ".")):
            if entry.name in ("_metadata", "_common_metadata"):
                return None  # Spark would read its schema from these
            continue
        if entry.is_dir():
            return None  # partition columns come from directory names
        parts.append(entry.name)
    if not parts:
        return None
    meta = pq.read_metadata(os.path.join(local, min(parts))).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema inference job when
    ``path`` is a local directory that Spark wrote: the footer schema is
    passed to ``spark.read.schema``. Inference is a one-task job per read
    (124 ms against 28 ms with the footer schema, median of 10 reads of
    a 4-part corpus on a 4-core host).
    Anything else falls back to ``spark.read.parquet``, which also raises
    Spark's own error for a missing path."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() \
            != "true":
        try:
            schema = _footer_schema(path)
        except (OSError, ValueError, KeyError, TypeError):
            schema = None  # unreadable listing or footer: Spark decides
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)
