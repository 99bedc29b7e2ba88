"""Flagship feature-engineering pipeline over the tokenized corpus.

The Spark restatement of the reference's build+query lifecycle
(SPANNIndex.cpp:1043-1240 BuildIndexInternal -> SearchIndex):

  1. ingest  — read sequences(doc_id, tokens, n_tok, source, version, ts)
  2. featurize — per-row token features (Arrow kernel, zero per-row Python)
  3. window  — per-doc point-in-time features over versions (lag, rolling,
               backfill) sharing one shuffle
  4. serve   — as-of join of a probe frame (doc_id, asof_ts) returning the
               latest feature row <= asof_ts (zero leakage)

Each stage is a pure DataFrame -> DataFrame function so bench/tests can
time or verify them separately; run_pipeline composes them and reports
throughput (sequences/sec, tokens/sec) the way the reference's harness
reports QPS (SSDIndex.h:61-97).

A call's fixed cost is kept small: both inputs are read with the schema
in their footers (``sources.tables.read_parquet``, no inference job), the
counts are observed on the sink job, and the as-of join reuses the
window's doc_id partitioning, so the feature rows are shuffled once. A
noop-sink call runs three Spark jobs.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sptag_spark.functions.tokens import with_arrow_token_features
from sptag_spark.operators.asof import asof_join
from sptag_spark.operators.windows import rolling_rows, with_lag_lead
from sptag_spark.sources.tables import read_parquet


FEATURE_COLS = [
    "n_tok", "source", "version", "tok_sum", "tok_mean", "tok_distinct",
    "tok_frac_small", "tok_fingerprint", "lag_n_tok_1", "lead_n_tok_1",
    "roll3r_sum_n_tok", "roll3r_avg_n_tok", "roll3r_count_n_tok",
]


def featurize(sequences: DataFrame) -> DataFrame:
    """Per-row token features + per-doc windowed features (one shuffle).

    Token arrays are dropped at the Arrow stage: every downstream consumer
    (windows, as-of serve) reads only the scalar features, and the raw
    arrays are the bulk of the bytes (IPC + shuffle + sort savings)."""
    feats = with_arrow_token_features(sequences, drop_tokens=True)
    feats = with_lag_lead(feats, ["doc_id"], ["ts", "version"], ["n_tok"], [1])
    feats = rolling_rows(
        feats, ["doc_id"], ["ts", "version"], "n_tok", 3,
        aggs=("sum", "avg", "count"), prefix="roll3r",
    )
    return feats


def serve_asof(features: DataFrame, probes: DataFrame,
               strategy: str = "union") -> DataFrame:
    """Point-in-time feature lookup: latest feature row per (doc_id,
    asof_ts). Drops the raw token arrays from the payload — the probe
    answer is the feature vector, not the data row."""
    payload = [c for c in FEATURE_COLS if c in features.columns]
    return asof_join(
        probes,
        features,
        on="doc_id",
        probe_ts="asof_ts",
        data_ts="ts",
        payload=payload,
        strategy=strategy,
    )


def _observed(obs: Observation, df: DataFrame, aggs: list) -> dict:
    """``obs``'s metrics from the sink job. AQE replaces a subtree whose
    shuffle stage came back empty with an empty relation and drops the
    observation inside it (no row at all, which ``Observation.get``
    fails on); only then pay a recount job: ``aggs`` over ``df``."""
    if obs._jo.getRow().length():
        return obs.get
    return df.agg(*aggs).first().asDict()


def run_pipeline(
    spark: SparkSession,
    sequences_path: str,
    probes_path: str | None = None,
    out_path: str | None = None,
    asof_strategy: str = "union",
) -> dict:
    """End-to-end run; returns throughput metrics.

    The row and token counts come from the sink job itself: observed
    metrics on the raw input (before featurize, so rows any later stage
    drops still count) and on the result, read after the write. No job
    re-runs the union shuffle or re-scans the corpus to count."""
    t0 = time.time()
    seen, out = Observation(), Observation()
    seq_aggs = [F.count(F.lit(1)).alias("n_seq"),
                F.coalesce(F.sum("n_tok"), F.lit(0)).alias("n_tok")]
    out_aggs = [F.count(F.lit(1)).alias("n_out")]
    raw = read_parquet(spark, sequences_path)
    feats = featurize(raw.observe(seen, *seq_aggs))
    if probes_path:
        probes = read_parquet(spark, probes_path)
        result = serve_asof(feats, probes, strategy=asof_strategy)
    else:
        result = feats
    sink = result.observe(out, *out_aggs)
    if out_path:
        sink.write.mode("overwrite").parquet(out_path)
    else:
        # noop write, NOT count(): count() column-prunes the served
        # payload out of the plan (MapInArrow + every window feature
        # disappear) and would time a join skeleton that computes no
        # features (CLAUDE.md rule 11). The row count afterwards is
        # deliberately outside the timed section.
        sink.write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0
    stats = _observed(seen, raw, seq_aggs)
    n_seq, n_tok = stats["n_seq"], stats["n_tok"]
    return {
        "elapsed_sec": elapsed,
        "rows_out": _observed(out, result, out_aggs)["n_out"],
        "sequences": n_seq,
        "tokens": n_tok,
        "sequences_per_sec": n_seq / elapsed,
        "tokens_per_sec": n_tok / elapsed,
    }
