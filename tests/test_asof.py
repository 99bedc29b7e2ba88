"""As-of join: all three strategies vs the DuckDB ASOF JOIN oracle, plus
zero-temporal-leakage invariants (reference analog: version predicate
ExtraDynamicSearcher.h:680; leakage probe per FIXTURES.md T5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.asof import asof_join
from tests.util import assert_df_equal

STRATEGIES = ["union", "broadcast", "merge", "salted"]


def _kw(strategy):
    """Force real chunking for the salted strategy on the small fixture."""
    extra = {"target_rows_per_key": 50, "n_chunks": 8} \
        if strategy == "salted" else {}
    return dict(strategy=strategy, **extra)


def _probe_data(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probe = ev.filter("event_type='purchase'").select("event_id", "user_id", "ts")
    data = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    return probe, data


ORACLE = """
SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
       c.value AS click_value, c.event_id AS click_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type='click') c
ON p.user_id = c.user_id AND p.ts {op} c.ts
"""


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_inclusive_matches_duckdb(spark, ddb, strategy):
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    **_kw(strategy))
    assert_df_equal(got, ddb.sql(ORACLE.format(op=">=")).df())


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_strict_matches_duckdb(spark, ddb, strategy):
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    strict=True, **_kw(strategy))
    assert_df_equal(got, ddb.sql(ORACLE.format(op=">")).df())


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_zero_leakage(spark, strategy):
    """Planting a data row at asof_ts + 1us must not change any result
    (FIXTURES.md T5 leakage probe)."""
    probe, data = _probe_data(spark)
    base = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                     **_kw(strategy)).toPandas()
    # Plant a poison row 1us after each user's LAST probe: invisible to
    # every probe of that user iff the operator never reads the future.
    leak = probe.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
        F.lit(9.99e9).alias("click_value"),
        F.lit(-1).cast("long").alias("click_event_id"),
    )
    poisoned = data.unionByName(leak)
    got = asof_join(probe, poisoned, on="user_id", probe_ts="ts", data_ts="ts",
                    **_kw(strategy)).toPandas()
    assert not (got["click_value"] > 9e9).any(), "future row leaked into result"
    matched = got["matched_ts"].notna()
    assert (got.loc[matched, "matched_ts"] <= got.loc[matched, "ts"]).all(), (
        "matched_ts after probe ts — temporal leakage"
    )
    from tests.util import normalize
    import pandas as pd
    pd.testing.assert_frame_equal(normalize(base), normalize(got))


def test_asof_strategies_agree_on_ties(spark):
    """Exact-timestamp ties: inclusive picks the tied row in every strategy."""
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 5, 50.0)]
    data = spark.createDataFrame(rows, "k string, t long, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "v")
    probe = spark.createDataFrame(
        [("a", 2), ("a", 1), ("a", 0), ("b", 9), ("c", 9)], "k string, t long"
    ).select("k", F.timestamp_seconds("t").alias("ts"))
    results = []
    for s in STRATEGIES:
        r = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                      strategy=s).toPandas()
        r = r.sort_values(["k", "ts"]).reset_index(drop=True)
        results.append(r)
    assert list(results[0]["v"].fillna(-1)) == [-1.0, 10.0, 20.0, 50.0, -1.0]
    for other in results[1:]:
        assert list(results[0]["v"].fillna(-1)) == list(other["v"].fillna(-1))


def test_asof_union_plan_has_single_shuffle(spark):
    """Scale guard: the union strategy must plan exactly one Exchange."""
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    strategy="union")
    from tests.util import count_exchanges

    assert count_exchanges(got) <= 1


def _windowed(data, key="user_id"):
    """``data`` with a per-key window column: hash-partitioned on ``key``."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("ts", "click_event_id")
    return data.withColumn("prev_value", F.lag("click_value").over(w))


def _agrees(got, probe, data, payload, strategy="merge"):
    want = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                     payload=payload, strategy=strategy)
    cols = ["event_id", "matched_ts", *payload]
    assert sorted(got.select(cols).collect()) \
        == sorted(want.select(cols).collect())


def test_asof_union_reuses_data_side_partitioning(spark):
    """A data side already hash-partitioned on the keys crosses no second
    Exchange: only the probe rows are shuffled for the as-of."""
    from tests.util import union_exchanges

    probe, data = _probe_data(spark)
    data = _windowed(data)
    payload = ["click_value", "prev_value"]
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    payload=payload)
    assert union_exchanges(got) == (0, 1, 1)  # the data's own window's
    _agrees(got, probe, data, payload)


def test_asof_union_unpartitioned_data_side_shuffles_once(spark):
    from tests.util import union_exchanges

    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts")
    assert union_exchanges(got) == (1, 0, 0)


@pytest.mark.parametrize("windowed", [False, True])
def test_asof_union_mixed_key_types_never_shuffle_twice(spark, windowed):
    """int probe keys against long data keys: the union widens the probe
    side's keys, so a per-side hash would not match the window's and
    every row would cross a second Exchange. No per-side repartition."""
    from tests.util import union_exchanges

    probe, data = _probe_data(spark)
    probe = probe.withColumn("user_id", F.col("user_id").cast("int"))
    payload = ["click_value"]
    if windowed:
        data, payload = _windowed(data), payload + ["prev_value"]
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    payload=payload)
    assert union_exchanges(got) == (1, 0, int(windowed))
    _agrees(got, probe, data, payload)


def test_merge_widens_int_probe_keys_against_long_data_keys(spark):
    """int probe keys against long data keys: merge widens both sides to
    long, the type the union picks, for its bucket hash and its per-key
    match, keeps the probe's int key column (the union widens it), and
    agrees with union and broadcast. The data key 2^32 + 1 wraps to 1 as
    an int: it must match nothing, where a narrowed key would hand probe
    key 1 its later row."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    sec = dt.timedelta(seconds=1)
    probe = spark.createDataFrame(
        [(0, 1, t0 + 10 * sec), (1, 2, t0 + 10 * sec),
         (2, 3, t0 + 10 * sec), (3, 1, t0)],
        "event_id long, k int, ts timestamp")
    data = spark.createDataFrame(
        [(1, t0 + sec, 1.0), (2, t0 + 2 * sec, 2.0),
         ((1 << 32) + 1, t0 + 5 * sec, 99.0)],
        "k long, ts timestamp, v double")
    got = {}
    for strat in ("merge", "union", "broadcast"):
        out = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], strategy=strat)
        got[strat] = sorted((r["event_id"], r["k"], r["v"])
                            for r in out.collect())
        if strat == "merge":
            assert out.schema["k"].dataType.typeName() == "integer"
    assert got["merge"] == [(0, 1, 1.0), (1, 2, 2.0), (2, 3, None),
                            (3, 1, None)]
    assert got["merge"] == got["union"] == got["broadcast"]


def test_broadcast_keeps_duplicate_probe_rows(spark):
    """Two identical probe rows must each produce an output row (the
    broadcast top-1 window partitions on a per-row uid, not the probe's
    columns)."""
    import datetime as dt

    from sptag_spark.operators.asof import asof_join

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(1, t0), (1, t0)], ["k", "ts"])  # exact duplicates
    data = spark.createDataFrame(
        [(1, t0 - dt.timedelta(seconds=5), 42.0)], ["k", "ts", "v"])
    for strat in ("union", "broadcast", "merge"):
        out = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], strategy=strat).collect()
        assert len(out) == 2, strat
        assert all(r["v"] == 42.0 for r in out), strat


def test_merge_tolerance_zero_means_exact_match_only(spark):
    """tolerance_seconds=0 is a real bound (exact-timestamp matches only),
    not 'no tolerance' — regression for the truthiness bug."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(seconds=10))], ["k", "ts"])
    data = spark.createDataFrame(
        [(1, t0, 1.0), (2, t0, 2.0)], ["k", "ts", "v"])
    out = {r["k"]: r for r in asof_join(
        probe, data, on="k", probe_ts="ts", data_ts="ts", payload=["v"],
        strategy="merge", tolerance_seconds=0).collect()}
    assert out[1]["v"] == 1.0          # exact-ts match survives tol=0
    assert out[2]["v"] is None         # 10s-stale match rejected


def test_merge_numeric_epoch_timestamps(spark):
    """Numeric (epoch-seconds) ts columns work through the merge path,
    including the empty-data-bucket branch (NaT would break Arrow)."""
    probe = spark.createDataFrame(
        [(1, 100.0), (2, 250.0)], ["k", "ts"])
    data = spark.createDataFrame(
        [(1, 90.0, 7.0)], ["k", "ts", "v"])
    out = {r["k"]: r for r in asof_join(
        probe, data, on="k", probe_ts="ts", data_ts="ts", payload=["v"],
        strategy="merge", tolerance_seconds=30).collect()}
    assert out[1]["v"] == 7.0 and out[1]["matched_ts"] == 90.0
    assert out[2]["v"] is None
    # empty data side entirely: every bucket takes the dk.empty branch
    empty = data.filter("k < 0")
    out2 = asof_join(probe, empty, on="k", probe_ts="ts", data_ts="ts",
                     payload=["v"], strategy="merge").collect()
    assert len(out2) == 2 and all(r["v"] is None for r in out2)


def _hot_key_frames(spark):
    """sf0.001 events with 20% of users collapsed onto one hot key, data
    side deduped per (key, ts) so tie-breaks can't differ by strategy."""
    from pyspark.sql import Window

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("user_id",
                    F.when(F.col("user_id") % 5 == 0, F.lit(0).cast("bigint"))
                    .otherwise(F.col("user_id")))
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"))
    w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("click_event_id").desc())
    clicks = clicks.withColumn("_rn", F.row_number().over(w)) \
        .filter("_rn = 1").drop("_rn")
    return probe, clicks


@pytest.mark.parametrize("strict", [False, True])
def test_salted_equals_union_on_hot_keys(spark, strict):
    """The salted strategy must be result-identical to the plain union
    plan — chunking + carry-forward is a physical rewrite only."""
    probe, clicks = _hot_key_frames(spark)
    kw = dict(on="user_id", probe_ts="ts", data_ts="ts", strict=strict)
    base = asof_join(probe, clicks, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salt = asof_join(probe, clicks, strategy="salted",
                     target_rows_per_key=50, n_chunks=8, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    assert base.equals(salt)


def test_salted_with_map_payload_column(spark):
    """ADVICE r3 #5: MapType has no hash function in Spark — when the
    sampled stats pass engages (target_rows_per_key >= 128) it must
    exclude unhashable payload columns from the sampling hash instead
    of failing analysis, and stay result-identical to the union plan."""
    probe, clicks = _hot_key_frames(spark)
    clicks = clicks.withColumn(
        "attrs", F.create_map(F.lit("v"), F.col("click_value")))
    kw = dict(on="user_id", probe_ts="ts", data_ts="ts")
    base = asof_join(probe, clicks, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salt = asof_join(probe, clicks, strategy="salted",
                     target_rows_per_key=128, n_chunks=8, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    assert base.equals(salt)


def test_salted_no_hot_keys_falls_back(spark):
    """With the production target nothing at sf0.001 is hot; the salted
    path must degrade to the plain single-shuffle union plan."""
    probe, clicks = _probe_data(spark)
    out = asof_join(probe, clicks, on="user_id", probe_ts="ts",
                    data_ts="ts", strategy="salted")
    from tests.util import count_exchanges
    assert count_exchanges(out) <= 1
    assert "__asof_chunk" not in out.schema.simpleString()


def test_salted_carry_across_empty_chunks(spark):
    """A probe in a chunk with NO data rows must inherit the newest
    payload from earlier chunks (the carry frame), including across
    several empty chunks."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    # hot key 0: one early data row, probes spread over a long timeline
    probes = [(i, 0, t0 + dt.timedelta(hours=i)) for i in range(300)]
    data = [(0, t0 - dt.timedelta(seconds=1), 42.0),
            (0, t0 + dt.timedelta(hours=150), 43.0)]
    probe = spark.createDataFrame(probes, ["event_id", "k", "ts"])
    d = spark.createDataFrame(data, ["k", "ts", "v"])
    out = asof_join(probe, d, on="k", probe_ts="ts", data_ts="ts",
                    payload=["v"], strategy="salted",
                    target_rows_per_key=50, n_chunks=8).collect()
    assert len(out) == 300
    for r in out:
        want = 43.0 if r["ts"] >= t0 + dt.timedelta(hours=150) else 42.0
        assert r["v"] == want, (r["event_id"], r["v"])


def test_null_ts_data_rows_never_match(spark):
    """A data row with NULL ts can never qualify (ts <= asof_ts is never
    true for NULL) — consistent across every strategy, including the
    salted carry path."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(i, 0, t0 + dt.timedelta(hours=i)) for i in range(120)],
        ["event_id", "k", "ts"])
    data = spark.createDataFrame(
        [(0, None, 666.0), (0, t0 - dt.timedelta(seconds=1), 1.0)],
        "k long, ts timestamp, v double")
    for strat in STRATEGIES:
        out = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], **(
                            dict(strategy=strat, target_rows_per_key=50,
                                 n_chunks=4) if strat == "salted"
                            else dict(strategy=strat))).collect()
        assert all(r["v"] == 1.0 for r in out), strat
        assert all(r["matched_ts"] is not None for r in out), strat


def test_salted_sampled_stats_path_equals_union(spark):
    """target_rows_per_key=4096 engages the SAMPLED stats pass
    (sample_mod=64, VERDICT r2 #3): the hot key must still be detected
    and chunked, and results must stay identical to the plain union plan
    (boundaries affect load balance only)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    # one key with 12k rows (hot at target 4096), 40 cold keys w/ 100
    probes = [(i, 0, t0 + dt.timedelta(seconds=i)) for i in range(8000)]
    probes += [(100_000 + k * 1000 + i, k, t0 + dt.timedelta(seconds=i))
               for k in range(1, 41) for i in range(50)]
    data = [(0, t0 + dt.timedelta(seconds=4 * i), float(i))
            for i in range(4000)]
    data += [(k, t0 + dt.timedelta(seconds=10 * i), float(k * 100 + i))
             for k in range(1, 41) for i in range(50)]
    probe = spark.createDataFrame(probes, ["event_id", "k", "ts"])
    d = spark.createDataFrame(data, ["k", "ts", "v"])
    kw = dict(on="k", probe_ts="ts", data_ts="ts", payload=["v"])
    base = asof_join(probe, d, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salted = asof_join(probe, d, strategy="salted",
                       target_rows_per_key=4096, n_chunks=8, **kw)
    got = salted.toPandas().sort_values("event_id").reset_index(drop=True)
    assert base.equals(got)
    # the sampled detector must flag exactly the hot key (and give it
    # n_chunks-1 boundaries), never the 100-row cold keys
    from pyspark.sql import functions as F

    from sptag_spark.operators.asof import (
        _hot_bounds, _tagged_union, _ts_ordinal, _TS,
    )
    unioned = _tagged_union(probe, d, ["k"], "ts", "ts", ["v"])
    rows, _ = _hot_bounds(
        unioned, ["k"], _ts_ordinal(F.col(_TS), probe.schema["ts"].dataType),
        4096, 8)
    assert [r["k"] for r in rows] == [0]
    assert len(rows[0]["__asof_bounds"]) == 7
