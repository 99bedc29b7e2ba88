"""Storage-layout test: parquet's encodings compress sorted postings."""

from __future__ import annotations


def test_sorted_postings_get_delta_compression(spark, tmp_path):
    """F6 evidence (reference ExtraStaticSearcher.h:613-622 hand-rolls
    id delta-encoding vs the posting head): in this engine that job
    belongs to parquet's encodings — ids written SORTED within their
    bucket compress via DELTA_BINARY_PACKED/dictionary to a fraction of
    the shuffled layout. This test pins the claim with bytes, not
    doctrine."""
    import os

    from pyspark.sql import functions as F

    n = 200_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).alias("bucket"),
    )
    sorted_dir = str(tmp_path / "sorted")
    shuffled_dir = str(tmp_path / "shuffled")
    df.repartition(1, "bucket").sortWithinPartitions("bucket", "vec_id") \
        .write.partitionBy("bucket").parquet(sorted_dir)
    df.withColumn("_r", F.xxhash64("vec_id")) \
        .repartition(1, "bucket").sortWithinPartitions("bucket", "_r") \
        .drop("_r").write.partitionBy("bucket").parquet(shuffled_dir)

    def size(d):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))

    s, u = size(sorted_dir), size(shuffled_dir)
    assert s * 3 < u, (s, u)  # sorted ids >= 3x smaller on disk
