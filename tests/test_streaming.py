"""The 1-perm MinHash near-dup key (functions/text.py near_dup_key), the
key a drop-within-watermark dedup groups on: contentless documents must
each keep a key of their own."""

from __future__ import annotations


def test_near_dup_key_contentless_docs_never_collapse(spark):
    """NULL, empty, and whitespace-only docs each get a per-doc sentinel
    key — md5('') must not merge every empty doc into one survivor."""
    from pyspark.sql import functions as F

    from sptag_spark.functions.text import near_dup_key

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, ""), (4, "real text here")],
        ["doc_id", "text"],
    ).withColumn("k", near_dup_key(F.col("text"), F.col("doc_id")))
    keys = [r["k"] for r in df.orderBy("doc_id").collect()]
    assert len(set(keys[:4])) == 4          # contentless: all distinct
    assert all(k.startswith("__null__") for k in keys[:4])
    assert not keys[4].startswith("__null__")
