"""Parquet table loaders for the driver-generated test corpus.

The reference's readers (DEFAULT/XVEC/TXT, SURVEY.md S1-S4) all collapse to
schema-on-read parquet scans here; Catalyst handles predicate pushdown and
column pruning so callers should filter/select as early as possible and let
the scan prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
