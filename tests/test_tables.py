"""read_parquet: the footer schema of a Spark-written directory instead of
an inference job, and Spark's own read everywhere else."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from sptag_spark.sources.tables import _footer_schema, read_parquet


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup("read-parquet", "read-parquet")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup("read-parquet"))


@pytest.fixture(scope="module")
def spark_dir(spark, tmp_path_factory):
    """A Spark-written directory with timestamp, array<int>, struct,
    nullable and non-nullable columns over several part files."""
    path = str(tmp_path_factory.mktemp("tables") / "t.parquet")
    t0 = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=i), [i, i + 1] if i % 3 else None,
          None if i % 4 == 0 else f"s{i}") for i in range(40)],
        "id long, ts timestamp, toks array<int>, name string")
    df.select(
        F.coalesce("id", F.lit(0)).cast("int").alias("id"),  # non-null
        "ts", "toks", "name",
        F.struct(F.col("id").alias("a"), F.col("name").alias("b"))
        .alias("st"),
    ).repartition(3).write.parquet(path)
    return path


def test_schema_equals_inferred(spark, spark_dir):
    got = read_parquet(spark, spark_dir)
    want = spark.read.parquet(spark_dir)
    assert _footer_schema(spark_dir) is not None
    assert got.schema == want.schema
    assert {f.name: f.dataType.simpleString() for f in got.schema} == {
        "id": "int", "ts": "timestamp", "toks": "array<int>",
        "name": "string", "st": "struct<a:bigint,b:string>"}
    key = ["id"]
    assert got.orderBy(key).collect() == want.orderBy(key).collect()


def test_spark_written_dir_launches_no_job(spark, spark_dir):
    assert _jobs(spark, lambda: read_parquet(spark, spark_dir).schema) == 0
    # what the footer read saves: Spark's own read infers in a job
    assert _jobs(spark, lambda: spark.read.parquet(spark_dir).schema) >= 1


def test_pyarrow_written_file_falls_back(spark, tmp_path):
    """No Spark schema in the footer: Spark's inference decides (naive
    timestamps become timestamp_ntz)."""
    d = tmp_path / "pa.parquet"
    d.mkdir()
    pq.write_table(pa.table({
        "k": pa.array([1, 2], pa.int64()),
        "ts": pa.array([dt.datetime(2025, 1, 1)] * 2, pa.timestamp("us")),
    }), str(d / "part-0.parquet"))
    assert _footer_schema(str(d)) is None
    got = read_parquet(spark, str(d))
    assert got.schema == spark.read.parquet(str(d)).schema
    assert got.schema["ts"].dataType.simpleString() == "timestamp_ntz"


def test_partitioned_dir_falls_back(spark, spark_dir, tmp_path):
    """bucket=N subdirectories carry a partition column the footers do
    not hold."""
    out = str(tmp_path / "part.parquet")
    spark.read.parquet(spark_dir).withColumn("bucket", F.col("id") % 2) \
        .write.partitionBy("bucket").parquet(out)
    assert _footer_schema(out) is None
    got = read_parquet(spark, out)
    assert "bucket" in got.columns
    assert got.schema == spark.read.parquet(out).schema
    assert got.count() == 40


def test_success_marker_only_falls_back(spark, tmp_path):
    d = tmp_path / "empty.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    assert _footer_schema(str(d)) is None
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(str(d))
    with pytest.raises(AnalysisException) as got:
        read_parquet(spark, str(d))
    assert got.value.getCondition() == want.value.getCondition()


def test_missing_path_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException) as got:
        read_parquet(spark, str(tmp_path / "nope.parquet"))
    assert got.value.getCondition() == "PATH_NOT_FOUND"


def test_merge_schema_falls_back(spark, tmp_path):
    """With mergeSchema on, two part files of different schemas merge,
    which one footer cannot tell."""
    out = str(tmp_path / "merged.parquet")
    spark.range(3).write.parquet(out)
    spark.range(3).withColumn("extra", F.col("id") * 2) \
        .write.mode("append").parquet(out)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert set(read_parquet(spark, out).columns) == {"id", "extra"}
        assert _jobs(spark, lambda: read_parquet(spark, out).schema) >= 1
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
