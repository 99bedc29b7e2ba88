"""Salting tests: plan from stats, exact agreement with unsalted plans,
and actual fan-out of hot keys across salt buckets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.skew import (
    SALT_COL,
    _salt_expr,
    key_counts,
    plan_salts,
    salted_agg,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """Zipf-ish: key 'web' owns 70% of 40k rows (datagen's source law)."""
    from sptag_spark.datagen import gen_sequences

    return gen_sequences(spark, 15_000, seed=42, partitions=8) \
        .select("doc_id", "source", "n_tok").cache()


def test_plan_salts_targets_hot_keys_only(skewed):
    plan = plan_salts(skewed, "source", target_rows_per_task=5_000)
    counts = {r["source"]: r["n"] for r in key_counts(skewed, "source").collect()}
    for k, n in counts.items():
        if n > 5_000:
            assert plan[k] == -(-n // 5_000)  # ceil
        else:
            assert k not in plan
    assert plan["web"] >= 4  # the planted hot key fans out


def test_salted_agg_equals_plain(skewed):
    got = salted_agg(skewed, "source", "n_tok",
                     target_rows_per_task=5_000).orderBy("source").collect()
    want = (
        skewed.groupBy("source")
        .agg(F.sum("n_tok").alias("s"), F.count("n_tok").alias("c"),
             F.min("n_tok").alias("mn"), F.max("n_tok").alias("mx"))
        .orderBy("source").collect()
    )
    for g, w in zip(got, want):
        assert g["source"] == w["source"]
        assert g["sum_n_tok"] == w["s"]
        assert g["count_n_tok"] == w["c"]
        assert (g["min_n_tok"], g["max_n_tok"]) == (w["mn"], w["mx"])
        assert g["avg_n_tok"] == w["s"] / w["c"]


def test_salt_fanout_is_real(skewed):
    """Hot-key rows actually land in >1 salt bucket (the partial-agg
    stage has no single-reducer key)."""
    plan = plan_salts(skewed, "source", target_rows_per_task=5_000)
    salted = skewed.withColumn(
        SALT_COL,
        _salt_expr("source", plan,
                   F.xxhash64(F.monotonically_increasing_id())),
    )
    fan = {r["source"]: r["n"] for r in salted.filter("source='web'")
           .groupBy("source").agg(F.countDistinct(SALT_COL).alias("n"))
           .collect()}
    assert fan["web"] == plan["web"]


def test_salt_is_deterministic_across_evaluations(skewed):
    """Salts derive from row CONTENT (retry-safe), never from
    monotonically_increasing_id/rand: two independent evaluations of the
    same plan must produce identical per-row salts."""
    from sptag_spark.operators.skew import _with_salt

    plan = plan_salts(skewed, "source", target_rows_per_task=5_000)
    salted = _with_salt(skewed, "source", plan)
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_large_salt_map_broadcast_path(skewed):
    """> _WHEN_CHAIN_MAX hot keys routes through the broadcast-map join
    and still agrees with the plain aggregation."""
    from sptag_spark.operators.skew import _WHEN_CHAIN_MAX

    big = skewed.withColumn("kk", F.pmod(F.xxhash64("doc_id"), F.lit(200)))
    plan = {i: 3 for i in range(_WHEN_CHAIN_MAX + 10)}
    got = {(r["kk"], r["sum_n_tok"], r["count_n_tok"])
           for r in salted_agg(big, "kk", "n_tok", salt_map=plan).collect()}
    want = {(r["kk"], r["s"], r["c"])
            for r in big.groupBy("kk").agg(
                F.sum("n_tok").alias("s"),
                F.count("n_tok").alias("c")).collect()}
    assert got == want
