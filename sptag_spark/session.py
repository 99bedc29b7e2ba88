"""SparkSession factory with scale-appropriate defaults.

Defaults mirror what we'd set on a 1000-executor cluster reading 100 TB,
translated to local[N] for tests: AQE on (runtime coalesce + skew-join
split — the Spark analog of SPTAG's posting split/merge maintenance,
cf. reference ExtraDynamicSearcher.h:637-1146), Arrow enabled for every
pandas/Arrow UDF path, UTC session timezone so parquet timestamps compare
bit-for-bit with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One place to change scale knobs. At 100 TB these become cluster-level
# settings (spark.sql.shuffle.partitions sized ~2-3x total cores, 128 MB
# target partition bytes); locally we keep them small so tests are fast.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch sizing is a throughput AND scaling cliff: the per-batch
    # numpy working set must stay cache-resident once every core runs a
    # worker, or the kernels fight over shared L3/DRAM bandwidth and
    # per-core throughput collapses as cores grow. Measured on the token
    # kernel (1.6B tokens, 2 vs 8 cores): 64k-row batches = 2x slower
    # absolute; 4096 rows = fast at low parallelism but 0.56-0.70 scaling
    # efficiency; 1024 rows (~0.25M tokens, ~2 MB hot set per worker) =
    # fastest absolute AND 0.90 scaling efficiency.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.partitions": "32",
    # PySpark 4 captures the Python call site (a stack walk plus py4j
    # round trips: 11 against 1 for `col * 2`) on every Column operation
    # by default; building featurize + serve_asof took ~1,530 round trips
    # and 200-350 ms of each run_pipeline call, ~440 without the capture.
    # Errors still raise with the same message, only without the Python
    # call site. A static setting: it holds for the session's lifetime.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # glibc heap reuse for Python workers: numpy temporaries over the
    # 128 KB mmap threshold are otherwise mmap'd and unmapped on EVERY
    # kernel call, so each Arrow-cogroup group pays fresh page faults
    # and fights khugepaged/kcompactd for huge pages — measured on the
    # ADC wave kernel (2344-row x 312-query groups x 256 buckets,
    # rule-18 multiprocessing harness, min-of-3): 8-proc kernel time
    # 4.03 s -> 1.42 s and 2->8-proc scaling efficiency 0.42 -> 0.73
    # just from keeping the temporaries in the (reused) heap. Workers
    # are single-threaded (one arena) and every kernel cache-blocks
    # its working set, so the retained high-water RSS is bounded.
    "spark.executorEnv.MALLOC_MMAP_MAX_": "0",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
}


def get_spark(
    app_name: str = "sptag_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or *.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def shuffle_parts(spark) -> int:
    """Partition count for explicit hash repartitions: the larger of the
    cluster's parallelism and the shuffle-partition setting. Tolerates
    non-numeric spark.sql.shuffle.partitions (e.g. 'auto' under some
    AQE deployments) by falling back to defaultParallelism."""
    dp = spark.sparkContext.defaultParallelism
    try:
        return max(dp, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (ValueError, TypeError):
        return dp
