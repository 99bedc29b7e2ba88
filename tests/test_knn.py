"""Similarity-search tests: numpy oracle, self-NN invariant, IVF recall.

The reference gates its approximate structures on recall vs a brute-force
truth set (PerfTest.cpp:180-261, TruthSet.h:242-285) and requires every
row to be its own nearest neighbor (Check(), BKTIndex.cpp:1207-1245).
Same gates here.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.knn import (
    brute_force_topk,
    cosine_near_dup_pairs,
    recall_at_k,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()  # cached plans shadow parquet scans for other modules


def _numpy_topk(pdf, query_ids, k):
    """Oracle replicating the engine's quantized-cosine definition."""
    ids = pdf["vec_id"].to_numpy()
    q = np.array([np.round(np.asarray(v, dtype=np.float64) * 1000)
                  for v in pdf["embedding"]])
    norms = np.sqrt((q * q).sum(axis=1))
    out = {}
    for qi in query_ids:
        qv = q[ids == qi][0]
        qn = norms[ids == qi][0]
        cos = (q @ qv) / (norms * qn)
        order = sorted(range(len(ids)),
                       key=lambda i: (-cos[i], ids[i]))
        out[qi] = [ids[i] for i in order if ids[i] != qi][:k]
    return out


def test_brute_force_matches_numpy(emb):
    got = brute_force_topk(emb, emb.filter("vec_id < 5"), k=10).collect()
    oracle = _numpy_topk(emb.toPandas(), range(5), 10)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qi in range(5):
        mine = [v for _, v in sorted(by_q[qi])]
        assert mine == list(oracle[qi]), f"query {qi}"


def test_self_is_nearest(emb):
    """Reference Check(): with self-matches allowed, rank 1 is the query."""
    got = brute_force_topk(
        emb, emb.filter("vec_id < 20"), k=1, exclude_self=False
    ).collect()
    assert all(r["vec_id"] == r["query_id"] and r["rank"] == 1 for r in got)
    assert len(got) == 20


def test_near_dup_pairs_symmetric_threshold(emb):
    pairs = cosine_near_dup_pairs(emb, threshold=0.4).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.4


def test_ivf_recall_gate(emb, spark, tmp_path):
    from sptag_spark.operators.knn import ivf_build, ivf_probe

    queries = emb.filter("vec_id < 16")
    exact = brute_force_topk(emb, queries, k=10)
    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=16, path=path)
    approx = ivf_probe(spark, path, queries, k=10, nprobe=4)
    r = recall_at_k(approx, exact)
    # nprobe=4 of 16 buckets; random-ish embeddings make IVF weak by design
    # — gate on "clearly better than the 4/16 random-bucket floor".
    assert r >= 0.4, f"recall@10 = {r}"


def test_recall_of_exact_vs_itself_is_one(emb):
    exact = brute_force_topk(emb, emb.filter("vec_id < 5"), k=10)
    assert recall_at_k(exact, exact) == 1.0


def _exact_ranking(corpus, emb, qid, k):
    """(vec_id, cosine) of the exact flat ranking for query `qid`, self
    included (the budgeted scan returns whatever lives in the postings)."""
    rows = brute_force_topk(corpus, emb.filter(f"vec_id = {qid}"), k=k,
                            exclude_self=False).collect()
    return [(r["vec_id"], r["cosine"])
            for r in sorted(rows, key=lambda r: r["rank"])]


def _budget_walk(spark, path, qvec, max_check):
    """(probed bucket ids, threshold) of the budget walk for one query."""
    from sptag_spark.operators.knn import _budget_kernel

    _, buckets, thresholds = _budget_kernel(spark, path, max_check).fn(
        np.asarray([qvec], dtype=np.float64))
    return [int(c) for c in buckets], thresholds[0]


def test_relaxed_mono_no_budget_equals_flat_ranking(emb, spark, tmp_path):
    """Relaxed-Monotonicity scan, no budget: every posting probes, no
    row flags, and the result equals the exact flat ranking (reference
    ResultIterator with maxCheck unbounded)."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=8, path=path)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    got = relaxed_mono_topk(spark, path, qvec, k=30).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] \
        == _exact_ranking(emb, emb, 0, 30)
    assert [r["rank"] for r in got] == list(range(1, 31))
    assert all(r["relaxed_mono"] == 0 for r in got)


def test_relaxed_mono_predicate_filters_results_not_budget(emb, spark,
                                                           tmp_path):
    """The scan's predicate is the reference's p_filterFunc
    (ResultIterator.cpp:8): it gates RESULTS inside the same pruned
    scan. With no budget, the filtered scan equals the exact flat
    ranking over the filtered corpus."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=8, path=path)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    got = [(r["vec_id"], r["cosine"]) for r in relaxed_mono_topk(
        spark, path, qvec, k=21, predicate="vec_id % 2 = 0").collect()]
    assert got == _exact_ranking(emb.filter("vec_id % 2 = 0"), emb, 0, 21)
    assert all(v % 2 == 0 for v, _ in got)


def test_relaxed_mono_budget_truncates_and_flags(emb, spark, tmp_path):
    """Budgeted scan (reference BKTIndex.cpp:431-434): the scan stops
    growing at max_check posting rows, results below the best unprobed
    head's cosine carry relaxed_mono=1, the flag is sticky (a suffix of
    the ranking), and the run is deterministic."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=16, path=path)
    n_total = emb.count()
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]

    def scan_all(budget):
        return relaxed_mono_topk(spark, path, qvec, k=n_total,
                                 max_check=budget).collect()

    rows = scan_all(60)
    # truncation really happened: the probed subset is smaller than the
    # corpus but at least covers the budget-crossing bucket
    assert len(rows) < n_total
    assert len(rows) >= min(60, n_total)
    # ranking is monotone within the scan, ids unique
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert len({r["vec_id"] for r in rows}) == len(rows)
    # the flag is a suffix: 0*, then 1* — and both regimes are non-empty
    flags = [r["relaxed_mono"] for r in rows]
    assert flags == sorted(flags), "relaxed_mono must be sticky"
    assert flags[0] == 0, "nearest-head results are monotone-safe"
    assert flags[-1] == 1, "budget truncation must flag the tail"
    # deterministic: same budget, same rows
    again = scan_all(60)
    assert [(r["vec_id"], r["cosine"], r["relaxed_mono"]) for r in rows] \
        == [(r["vec_id"], r["cosine"], r["relaxed_mono"]) for r in again]
    # a smaller k is the prefix of the same ranking
    top = relaxed_mono_topk(spark, path, qvec, k=40, max_check=60).collect()
    assert [(r["vec_id"], r["cosine"], r["relaxed_mono"]) for r in top] \
        == [(r["vec_id"], r["cosine"], r["relaxed_mono"])
            for r in rows[:40]]
    # the frontier is exactly the reference's rule: threshold = best
    # unprobed non-empty head's cosine, probed = best-first prefix of
    # heads until the budget, flags = (cosine < threshold). Recompute
    # all three independently in numpy and cross-check the scan.
    from sptag_spark.functions.vecarrow import exact_int_matmul, np_quantize
    from sptag_spark.operators.knn import _collect_centroids

    probed, thr = _budget_walk(spark, path, qvec, 60)
    cent_ids, cent_mat, cent_norms = _collect_centroids(
        spark.read.parquet(f"{path}/centroids"))
    q = np_quantize(np.asarray([qvec], dtype=np.float64))[0]
    qn = float(np.sqrt(float((q * q).sum())))
    hcos = exact_int_matmul(q[None, :], cent_mat.T)[0] / (qn * cent_norms)
    order = np.argsort(-hcos, kind="stable")
    post = spark.read.parquet(f"{path}/postings")
    sizes = {r["bucket"]: r["cnt"] for r in
             post.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    want_probed, checked = [], 0
    want_thr = None
    for pos, ci in enumerate(order):
        cid = cent_ids[ci]
        if pos == 0 or checked < 60:
            want_probed.append(cid)
            checked += sizes.get(cid, 0)
        elif sizes.get(cid, 0) > 0:
            want_thr = float(hcos[ci])
            break
    assert probed == want_probed
    assert thr == want_thr and thr is not None
    for r in rows:
        assert r["relaxed_mono"] == (1 if r["cosine"] < thr else 0)
    # within the probed buckets the ranking is the exact flat one
    members = post.filter(F.col("bucket").isin(probed)).select("vec_id")
    assert [(r["vec_id"], r["cosine"]) for r in rows] == _exact_ranking(
        emb.join(members, "vec_id", "left_semi"), emb, 0, n_total)


def _actual_raw_sizes(spark, path):
    return {int(r["bucket"]): int(r["n"]) for r in
            spark.read.parquet(f"{path}/postings")
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .collect()}


def test_posting_sizes_persisted_across_lifecycle(emb, spark, tmp_path):
    """The persisted size table (reference m_postingSizes: resident
    posting lengths, updated by every maintenance op, never recomputed
    per search) stays equal to the ACTUAL raw per-bucket counts through
    build -> append -> delete -> split -> merge -> compact. Deletes
    leave it unchanged (tombstoned rows still occupy posting pages
    until a rewrite — raw semantics)."""
    from sptag_spark.operators.knn import (
        ivf_append, ivf_build, ivf_compact, ivf_delete, ivf_merge,
        ivf_split, read_posting_sizes)

    path = str(tmp_path / "idx")
    ivf_build(emb.filter("vec_id < 300"), n_centroids=8, path=path)
    assert read_posting_sizes(spark, path) == _actual_raw_sizes(spark, path)

    ivf_append(spark, path, emb.filter("vec_id >= 300"))
    assert read_posting_sizes(spark, path) == _actual_raw_sizes(spark, path)

    before = read_posting_sizes(spark, path)
    ivf_delete(spark, path, emb.filter("vec_id % 7 = 0").select("vec_id"))
    assert read_posting_sizes(spark, path) == before  # raw: unchanged
    assert read_posting_sizes(spark, path) == _actual_raw_sizes(spark, path)

    ivf_split(spark, path, max_posting_size=60)
    assert read_posting_sizes(spark, path) == _actual_raw_sizes(spark, path)

    ivf_merge(spark, path, min_posting_size=10)
    assert read_posting_sizes(spark, path) == _actual_raw_sizes(spark, path)

    ivf_compact(spark, path)
    after = read_posting_sizes(spark, path)
    assert after == _actual_raw_sizes(spark, path)
    # compact folded the tombstones: totals shrank
    assert sum(after.values()) < sum(before.values())


def test_budget_cursor_reads_persisted_sizes_not_postings(emb, spark,
                                                          tmp_path):
    """Renting a budgeted cursor must read the size TABLE, not re-scan
    the postings (the r5 per-cursor index-wide census). Proof by
    substitution: overwrite _sizes with all-1 counts — if the cursor
    recomputed sizes from postings it would probe the same buckets as
    before; reading the doctored table, the same budget now admits
    every head (cumulative fake size ~ head count < budget)."""
    import pandas as pd

    from sptag_spark.operators.knn import ivf_build

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=16, path=path)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    probed_true, _ = _budget_walk(spark, path, qvec, 60)
    n_heads = spark.read.parquet(f"{path}/centroids").count()
    assert len(probed_true) < n_heads  # the budget really truncates
    fake = pd.DataFrame({
        "bucket": pd.array(
            [r["bucket"] for r in
             spark.read.parquet(f"{path}/postings/_sizes").collect()],
            dtype="int64"),
    })
    fake["n"] = pd.array([1] * len(fake), dtype="int64")
    spark.createDataFrame(fake, schema="bucket long, n long") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(f"{path}/postings/_sizes")
    probed_fake, _ = _budget_walk(spark, path, qvec, 60)
    assert len(probed_fake) == n_heads, \
        "cursor rent must consume the persisted table"


def test_read_posting_sizes_falls_back_without_table(emb, spark,
                                                     tmp_path):
    """Pre-sizes indexes (no _sizes directory) fall back to a one-off
    raw postings aggregate — back-compat for indexes built before the
    table existed."""
    import shutil

    from sptag_spark.operators.knn import ivf_build, read_posting_sizes

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=8, path=path)
    want = read_posting_sizes(spark, path)
    shutil.rmtree(f"{path}/postings/_sizes")
    assert read_posting_sizes(spark, path) == want


def _batch_rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"],
         r["relaxed_mono"]) for r in df.collect())


def _perquery_rows(spark, path, emb, qids, k, max_check, predicate=None):
    from sptag_spark.operators.knn import relaxed_mono_topk

    out = []
    for qid in qids:
        qvec = [float(x) for x in
                emb.filter(f"vec_id = {qid}").first()["embedding"]]
        for r in relaxed_mono_topk(spark, path, qvec, k=k,
                                   max_check=max_check,
                                   predicate=predicate).collect():
            out.append((qid, r["vec_id"], r["cosine"], r["rank"],
                        r["relaxed_mono"]))
    return sorted(out)


def test_batch_budget_cursor_parity_with_per_query(emb, spark, tmp_path):
    """relaxed_mono_topk_batch == relaxed_mono_topk on EVERY query:
    same probe sets, cosines, ranks and relaxed_mono flags (the
    VERDICT r5 missing-#2 'done' gate) — in both probe modes, so the
    wave path's cogrouped kernel is held to the same bits."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk_batch

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=16, path=path)
    qids = [0, 3, 11, 42]
    queries = emb.filter(F.col("vec_id").isin(qids))
    want = _perquery_rows(spark, path, emb, qids, k=20, max_check=80)
    for limit in (10_000, 0):
        got = _batch_rows(relaxed_mono_topk_batch(
            spark, path, queries, k=20, max_check=80,
            driver_probe_limit=limit,
            probe_scratch_dir=str(tmp_path / "scratch")))
        assert got == want, limit
    # some query must actually truncate + flag or the test is vacuous
    assert any(f == 1 for *_, f in want)


def test_batch_budget_cursor_no_budget_and_predicate(emb, spark,
                                                     tmp_path):
    """max_check=None probes everything and never flags; a predicate
    gates results inside the same pruned scan (p_filterFunc) — both
    must match the per-query cursor row-for-row."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk_batch

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=8, path=path)
    qids = [1, 7]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = _batch_rows(relaxed_mono_topk_batch(
        spark, path, queries, k=15, max_check=None))
    want = _perquery_rows(spark, path, emb, qids, k=15, max_check=None)
    assert got == want
    assert all(f == 0 for *_, f in got)

    pred = "vec_id % 3 = 0"
    got = _batch_rows(relaxed_mono_topk_batch(
        spark, path, queries, k=15, max_check=60, predicate=pred))
    want = _perquery_rows(spark, path, emb, qids, k=15, max_check=60,
                          predicate=pred)
    assert got == want
    assert all(v % 3 == 0 for _, v, *_ in got)


def test_batch_budget_cursor_replica_dedup(emb, spark, tmp_path):
    """Over a replicated index the batch cursor scores each vector once
    per query (visited-set P5), matching the per-query walk."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk_batch

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=8, path=path, replica_count=2)
    qids = [0, 5]
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = _batch_rows(relaxed_mono_topk_batch(
        spark, path, queries, k=12, max_check=120))
    want = _perquery_rows(spark, path, emb, qids, k=12, max_check=120)
    assert got == want
    seen = {(q, v) for q, v, *_ in got}
    assert len(seen) == len(got)  # one row per (query, vector)


def test_batch_budget_cursor_wave_runs_as_one_plan(emb, spark, tmp_path):
    """A full-corpus wave (every vector as a query) through the join
    path: one plan, no per-query driver walks; sanity-gated by each
    query ranking itself first (self not excluded, budget >= its own
    posting)."""
    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk_batch

    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=16, path=path)
    res = relaxed_mono_topk_batch(
        spark, path, emb, k=3, max_check=200, driver_probe_limit=0,
        probe_scratch_dir=str(tmp_path / "scratch")).cache()
    try:
        n_q = emb.count()
        firsts = res.filter("rank = 1").collect()
        assert len(firsts) == n_q
        # cosine(v, v) is 1.0 only up to sqrt(n)*sqrt(n) rounding
        assert all(r["query_id"] == r["vec_id"]
                   and abs(r["cosine"] - 1.0) < 1e-12 for r in firsts)
    finally:
        res.unpersist()


def test_mrr(emb, spark):
    from sptag_spark.operators.knn import brute_force_topk, mrr_at_k

    exact = brute_force_topk(emb, emb.filter("vec_id < 5"), k=10)
    assert mrr_at_k(exact, exact) == 1.0  # rank-1 hit for every query
    # truth nobody retrieves -> MRR 0
    fake_truth = spark.createDataFrame(
        [(q, 10**9) for q in range(5)], ["query_id", "vec_id"])
    assert mrr_at_k(exact, fake_truth) == 0.0


def test_multi_index_weight_count_mismatch(emb):
    """One weight per query, checked even under `python -O`; the driver
    collects at most len(weights) + 1 query rows, so a query frame far
    larger than the weights fails without being pulled whole."""
    from pyspark.sql import functions as F

    from sptag_spark.operators.knn import multi_index_topk

    qids = [0, 1, 3]
    weights = [0.5, 0.3, 0.2]
    with pytest.raises(ValueError, match="more than 2 queries but 2 weights"):
        multi_index_topk(
            emb, emb.filter(F.col("vec_id").isin(qids)),
            weights=weights[:2], k=10)
    with pytest.raises(ValueError, match="more than 3 queries but 3 weights"):
        multi_index_topk(emb, emb, weights=weights, k=10)
    with pytest.raises(ValueError, match="2 queries but 3 weights"):
        multi_index_topk(
            emb, emb.filter(F.col("vec_id").isin(qids[:2])),
            weights=weights, k=10)


def test_probe_wave_auto_selects_join_mode(spark, tmp_path):
    """A >10^4-query probe wave auto-routes to the executor-side join
    strategy and completes with per-query results (the driver path would
    inline a 10^4-bucket probe set through collect)."""
    from pyspark.sql import functions as F

    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_build(emb, n_centroids=16, path=path)
    waves = emb.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(24))).alias("_rep"),
    ).select(
        (F.col("vec_id") * 100 + F.col("_rep")).alias("vec_id"),
        "embedding",
    )  # 500 x 25 = 12,500 queries, fresh ids (no self-matches)
    out = ivf_probe(spark, path, waves, k=3, nprobe=2)
    got = out.groupBy().agg(
        F.countDistinct("query_id").alias("nq"),
        F.count(F.lit(1)).alias("rows"),
    ).first()
    assert got["nq"] == 12_500
    assert got["rows"] == 12_500 * 3


def test_ivf_incremental_lifecycle_matches_rebuild(spark, tmp_path):
    """T2/T3/T5 composed onto the persisted index (reference
    SPANN/Index.h:283-335, ExtraDynamicSearcher.h:637-1146): build on
    part of the corpus, append the rest against the EXISTING heads,
    tombstone deletes, compact — and at every step probing must equal a
    from-scratch rebuild over the surviving corpus with the same pinned
    centroids."""
    import os

    from sptag_spark.operators.knn import (
        ivf_append, ivf_build, ivf_compact, ivf_delete, ivf_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    ivf_build(emb.filter("vec_id < 300"), n_centroids=16, path=path)
    centroids = spark.read.parquet(f"{path}/centroids")
    ivf_append(spark, path, emb.filter("vec_id >= 300"))
    ivf_delete(spark, path, emb.filter("vec_id % 7 = 0").select("vec_id"))

    q = emb.filter("vec_id < 8 AND vec_id % 7 != 0")
    probe = lambda p: sorted(map(tuple, ivf_probe(
        spark, p, q, k=5, nprobe=4).collect()))
    inc = probe(path)
    assert inc and all(r[1] % 7 != 0 for r in inc)  # deletes invisible

    rebuilt = str(tmp_path / "rebuilt")
    ivf_build(emb.filter("vec_id % 7 != 0"), n_centroids=16,
              path=rebuilt, centroids=centroids)
    assert inc == probe(rebuilt)

    ivf_compact(spark, path)
    assert not os.path.isdir(f"{path}/tombstones")
    assert inc == probe(path)  # merge-on-read == post-compact


def test_ivf_compact_posting_size_cap(spark, tmp_path):
    """The posting-size cap (W3) applied on rewrite: after
    ivf_compact(max_posting_size=N) no bucket holds more than N rows,
    and survivors are a deterministic hash-ordered head."""
    from pyspark.sql import functions as F

    from sptag_spark.operators.knn import ivf_build, ivf_compact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    ivf_build(emb, n_centroids=4, path=path)
    ivf_compact(spark, path, max_posting_size=20)
    sizes = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("bucket").count().collect()
    )
    assert sizes and max(r["count"] for r in sizes) <= 20
    # deterministic: a second cap pass is a no-op
    before = sorted(r["vec_id"] for r in
                    spark.read.parquet(f"{path}/postings").collect())
    ivf_compact(spark, path, max_posting_size=20)
    after = sorted(r["vec_id"] for r in
                   spark.read.parquet(f"{path}/postings").collect())
    assert before == after


def test_footer_counts_fall_back_on_unexpected_layout(spark, tmp_path):
    """A postings dir with no `bucket=` partitions is not a footer-
    countable layout: _footer_bucket_counts answers None (never an
    empty dict), so the sizes table comes from the Spark recount
    instead of being persisted empty. A buckets filter that matches no
    partition of a proper layout still answers {}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sptag_spark.operators.knn import (
        _footer_bucket_counts,
        _read_sizes_table,
        _refresh_posting_sizes,
    )

    flat = tmp_path / "flat"
    flat.mkdir()
    pq.write_table(pa.table({"vec_id": [1, 2, 3], "bucket": [4, 4, 5]}),
                   str(flat / "part-0.parquet"))
    assert _footer_bucket_counts(str(flat)) is None
    assert _footer_bucket_counts(str(flat), [4]) is None
    _refresh_posting_sizes(spark, str(flat))
    assert _read_sizes_table(spark, f"{flat}/_sizes") == {4: 2, 5: 1}

    part = tmp_path / "part"
    (part / "bucket=3").mkdir(parents=True)
    pq.write_table(pa.table({"vec_id": [1, 2]}),
                   str(part / "bucket=3" / "part-0.parquet"))
    assert _footer_bucket_counts(str(part)) == {3: 2}
    assert _footer_bucket_counts(str(part), [7]) == {}
