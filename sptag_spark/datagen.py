"""Deterministic tokenized-sequence corpus generator (BASELINE.json input_hint).

Schema: sequences(doc_id string, tokens array<int>, n_tok int, source string)
plus derived point-in-time columns (version int, ts timestamp) so as-of
semantics are testable. Row content is a pure function of (doc_id, version,
seed) via xxhash64 — no RNG state, no driver-side data, fully distributed:
``spark.range`` -> column expressions, so generating 10^12 rows is just a
bigger range with more partitions.

Mirrors the reference's deterministic fixture style (Test/src/AlgoTest.cpp:
175-245: vec[i][*]=i, metadata=str(i)) scaled up, with the Zipf-skewed
``source`` hot key and per-doc version fan-out (a few hot doc_ids get 64
versions) that FIXTURES.md T1 prescribes for skew/salting tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 50257  # GPT-2-ish vocabulary size
SOURCES = ("web", "books", "code", "wiki")  # ~70/15/10/5 Zipf split


def _h(*cols) -> "F.Column":
    """Non-negative deterministic 64-bit hash of the given columns."""
    return F.abs(F.xxhash64(*cols))


def gen_sequences(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    hot_doc_every: int = 1000,
    hot_versions: int = 64,
    partitions: int | None = None,
) -> DataFrame:
    """Generate the versioned sequences table.

    Every ``hot_doc_every``-th doc gets ``hot_versions`` revisions (hot
    entity); the rest get 1-4. ts is strictly increasing in version per doc.
    """
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    docs = rng.select(
        F.format_string("doc%08d", F.col("id")).alias("doc_id"),
        F.col("id").alias("_doc_num"),
    )
    n_versions = F.when(
        F.col("_doc_num") % hot_doc_every == 0, F.lit(hot_versions)
    ).otherwise((_h(F.col("doc_id"), F.lit(seed), F.lit("nver")) % 4 + 1).cast("int"))
    versioned = docs.select(
        "doc_id",
        "_doc_num",
        F.explode(F.sequence(F.lit(0), n_versions - 1)).alias("version"),
    )
    hv = _h(F.col("doc_id"), F.col("version"), F.lit(seed))
    n_tok = (hv % 504 + 8).cast("int")
    src_bucket = _h(F.col("doc_id"), F.lit(seed), F.lit("src")) % 100
    source = (
        F.when(src_bucket < 70, SOURCES[0])
        .when(src_bucket < 85, SOURCES[1])
        .when(src_bucket < 95, SOURCES[2])
        .otherwise(SOURCES[3])
    )
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: (
            _h(F.col("doc_id"), F.col("version"), i, F.lit(seed)) % VOCAB
        ).cast("int"),
    )
    ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_dt_interval(
        days=F.lit(0),
        hours=F.lit(0),
        mins=F.lit(0),
        secs=(F.col("version") * 86400 + hv % 86400).cast("double"),
    )
    return versioned.select(
        "doc_id",
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"),
        F.col("version").cast("int").alias("version"),
        ts.alias("ts"),
    )


def gen_asof_probes(
    spark: SparkSession,
    sequences: DataFrame,
    n_probes: int,
    seed: int = 42,
    miss_fraction: float = 0.05,
    partitions: int | None = None,
) -> DataFrame:
    """Probe frame (qid, doc_id, asof_ts) per FIXTURES.md T2: samples of
    known doc_ids plus ~5% unknown ids; asof_ts spans before-first to
    after-last so null and latest-row edges are exercised."""
    n_docs = sequences.agg(F.countDistinct("doc_id")).collect()[0][0]
    return _probes(spark, n_docs, n_probes, seed, miss_fraction, partitions)


def _probes(
    spark: SparkSession,
    n_docs: int,
    n_probes: int,
    seed: int,
    miss_fraction: float,
    partitions: int | None,
) -> DataFrame:
    """``gen_asof_probes`` over a corpus of ``n_docs`` distinct doc_ids."""
    rng = spark.range(0, n_probes, 1, partitions or spark.sparkContext.defaultParallelism)
    h = _h(F.col("id"), F.lit(seed), F.lit("probe"))
    is_miss = (h % 100) < int(miss_fraction * 100)
    doc_num = _h(F.col("id"), F.lit(seed), F.lit("doc")) % F.lit(n_docs)
    doc_id = F.when(is_miss, F.format_string("missing%06d", F.col("id"))).otherwise(
        F.format_string("doc%08d", doc_num)
    )
    # window: [2024-12-31, 2025-01-01 + 66 days) covers version range 0..64
    asof_secs = (_h(F.col("id"), F.lit(seed), F.lit("ts")) % (67 * 86400)) - 86400
    asof_ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_dt_interval(
        secs=asof_secs.cast("double")
    )
    return rng.select(
        F.col("id").alias("qid"), doc_id.alias("doc_id"), asof_ts.alias("asof_ts")
    )


def write_corpus(
    spark: SparkSession,
    out_dir: str,
    n_docs: int,
    n_probes: int | None = None,
    seed: int = 42,
    partitions: int | None = None,
) -> None:
    """Write sequences.parquet and, when ``n_probes``, asof_probes.parquet.
    Every one of the ``n_docs`` docs has a version, so the probes are
    drawn from ``n_docs`` directly: no read-back and count of the
    written corpus."""
    seqs = gen_sequences(spark, n_docs, seed=seed, partitions=partitions)
    seqs.write.mode("overwrite").parquet(f"{out_dir}/sequences.parquet")
    if n_probes:
        probes = _probes(spark, n_docs, n_probes, seed,
                         miss_fraction=0.05, partitions=partitions)
        probes.write.mode("overwrite").parquet(f"{out_dir}/asof_probes.parquet")
