"""sptag_spark — a PySpark-native point-in-time feature-engineering engine.

A from-scratch re-expression of the capabilities of zqxjjj/SPTAG (a
billion-scale vector pipeline: partition -> prune -> score -> top-k merge,
plus incremental maintenance) as an idiomatic Spark DataFrame engine:

- as-of / backward joins (point-in-time correct feature lookup)
- windowed features: lag/lead, rolling frames, backfill
- gap-based sessionization
- grouped top-k (the reference's QueryResultSet semantics)
- dedup family (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine)
- similarity search (brute-force + LSH-bucketed ANN)
- text analysis (lang-id, quality, token counting, fingerprints)
- partitioned layout with lineage manifests and checkpoint resume
- skew handling (stats-driven salting)

Everything is pyspark.sql DataFrames + Window + vectorized Arrow/pandas UDFs;
no per-row Python in any hot path.
"""

from sptag_spark import _zipcache

__version__ = "0.1.0"

# Every package UDF imports this package in the Python worker: from then
# on a task start no longer re-parses every zip on sys.path (_zipcache).
_zipcache.install()
