"""Replica multi-assignment, distance-ordered capping, crash recovery,
probe cutoff, and scratch-dir probing — the round-4 index-layout surface.

The reference multi-assigns every vector to up to ReplicaCount=8
RNG-pruned head postings (VectorIndex.cpp:1144-1254 RNGSelection,
ExtraStaticSearcher.h:735-753, ReplicaCount in
SPANN/ParameterDefinitionList.h:88) — that closure is what buys recall
at low nprobe and makes posting truncation survivable. These tests gate
exactly those two properties plus the maintenance-path hardening. The
sf0.001 fixture and md5 head selection are fully deterministic, so the
recall comparisons are exact reproducible numbers, not statistics.
"""

from __future__ import annotations

import os
import shutil

import pytest

from sptag_spark.operators import probe
from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe
from sptag_spark.operators.knn import (
    brute_force_topk,
    cleanup_probe_tables,
    ivf_append,
    ivf_build,
    ivf_compact,
    ivf_delete,
    ivf_probe,
    read_index_meta,
    recall_at_k,
    replica_histogram,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def exact16(spark, emb):
    df = brute_force_topk(emb, emb.filter("vec_id < 16"), k=10).cache()
    yield df
    df.unpersist()


def _probe_sorted(spark, path, q, **kw):
    return sorted(map(tuple, ivf_probe(spark, path, q, **kw).collect()))


def test_replica_recall_beats_single_at_low_nprobe(spark, emb, exact16,
                                                   tmp_path):
    """The headline property (reference RNG closure): at fixed nprobe a
    replicated index recalls strictly more than single-assignment —
    boundary vectors live in every un-occluded nearby posting."""
    q = emb.filter("vec_id < 16")
    p1, p4 = str(tmp_path / "r1"), str(tmp_path / "r4")
    ivf_build(emb, 16, p1)
    ivf_build(emb, 16, p4, replica_count=4)
    for nprobe in (1, 2):
        r_single = recall_at_k(
            ivf_probe(spark, p1, q, k=10, nprobe=nprobe), exact16)
        r_rep = recall_at_k(
            ivf_probe(spark, p4, q, k=10, nprobe=nprobe), exact16)
        assert r_rep > r_single, (nprobe, r_rep, r_single)


def test_replica_histogram_meta_and_rng_variability(spark, emb, tmp_path):
    """Copies per vector span 1..R (RNG occlusion actually prunes — a
    top-R assignment without the closure would pin everything at R), the
    total posting count matches the histogram, and the meta records R so
    appends fan out identically."""
    path = str(tmp_path / "idx")
    ivf_build(emb, 16, path, replica_count=4)
    hist = {r["copies"]: r["n_vectors"]
            for r in replica_histogram(spark, path).collect()}
    assert min(hist) >= 1 and max(hist) == 4
    assert len(hist) > 1, "RNG closure never pruned — suspicious"
    n_rows = emb.count()
    assert sum(hist.values()) == n_rows
    post = spark.read.parquet(f"{path}/postings")
    assert post.count() == sum(c * n for c, n in hist.items())
    assert read_index_meta(spark, path)["replica_count"] == 4


def test_replica_probe_dedupes_and_modes_agree(spark, emb, tmp_path):
    """A query probing two postings that both hold vector v must score v
    once (P5 visited-set semantics), on both probe strategies."""
    path = str(tmp_path / "idx")
    ivf_build(emb, 16, path, replica_count=4)
    q = emb.filter("vec_id < 16")
    res = ivf_probe(spark, path, q, k=10, nprobe=4)
    rows = res.collect()
    pairs = [(r["query_id"], r["vec_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    a = sorted(map(tuple, rows))
    b = _probe_sorted(spark, path, q, k=10, nprobe=4, driver_probe_limit=0)
    assert a == b


def test_replica_lifecycle_matches_pinned_rebuild(spark, emb, tmp_path):
    """Append reads R from the index meta (no caller restatement) and
    the incremental index equals a from-scratch rebuild with the same
    pinned heads and the same replica fan-out."""
    path = str(tmp_path / "idx")
    ivf_build(emb.filter("vec_id < 300"), 16, path, replica_count=2)
    cents = spark.read.parquet(f"{path}/centroids")
    ivf_append(spark, path, emb.filter("vec_id >= 300"))
    ivf_delete(spark, path, emb.filter("vec_id % 7 = 0").select("vec_id"))
    q = emb.filter("vec_id < 8 AND vec_id % 7 != 0")
    inc = _probe_sorted(spark, path, q, k=5, nprobe=4)
    assert inc and all(r[1] % 7 != 0 for r in inc)
    rebuilt = str(tmp_path / "rebuilt")
    ivf_build(emb.filter("vec_id % 7 != 0"), 16, rebuilt,
              centroids=cents, replica_count=2)
    assert inc == _probe_sorted(spark, rebuilt, q, k=5, nprobe=4)


def test_ivfpq_replica_unbounded_rerank_equals_exact_ivf(spark, emb,
                                                         tmp_path):
    """The composed index honors replicas end-to-end: with rerank beyond
    every candidate, ADC prunes nothing and the replicated ivf_pq probe
    reproduces the replicated flat probe bit-for-bit (same dedup, same
    scoring tail)."""
    pq_path, ivf_path = str(tmp_path / "pq"), str(tmp_path / "ivf")
    ivf_pq_build(emb, 16, pq_path, m=4, k_codes=16, replica_count=2)
    ivf_build(emb, 16, ivf_path, replica_count=2)
    q = emb.filter("vec_id < 8")
    got = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_pq_probe(spark, pq_path, q, k=5, nprobe=4,
                              rerank=10**6).collect())
    want = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_probe(spark, ivf_path, q, k=5, nprobe=4).collect())
    assert got == want


def test_distance_cap_beats_hash_cap_degrades_gracefully(spark, emb,
                                                         exact16,
                                                         tmp_path):
    """ivf_compact(max_posting_size=N) keeps the rows NEAREST the head
    (exact quantized d2 window against the broadcast centroid —
    reference ExtraStaticSearcher.h:781-846), so on a replicated index
    capping costs some recall but strictly less than the old hash-order
    eviction, and the capped index still beats nothing-like collapse
    (graceful degradation)."""
    q = emb.filter("vec_id < 16")
    uncapped = str(tmp_path / "u")
    ivf_build(emb, 16, uncapped, replica_count=2)
    cents = spark.read.parquet(f"{uncapped}/centroids")

    def capped(order):
        p = str(tmp_path / f"cap_{order}")
        ivf_build(emb, 16, p, centroids=cents, replica_count=2)
        ivf_compact(spark, p, max_posting_size=40, cap_order=order)
        return recall_at_k(ivf_probe(spark, p, q, k=10, nprobe=4), exact16)

    r_uncap = recall_at_k(
        ivf_probe(spark, uncapped, q, k=10, nprobe=4), exact16)
    r_dist = capped("distance")
    r_hash = capped("hash")
    assert r_dist > r_hash, (r_dist, r_hash)
    assert r_uncap >= r_dist > 0.3, (r_uncap, r_dist)


def test_compact_crash_recovery_all_states(spark, emb, tmp_path):
    """A driver crash at any point of the rename-rename-delete swap is
    rolled forward/back at the next ivf_compact entry (ADVICE r3 #2);
    probe results are identical before and after every recovery."""
    path = str(tmp_path / "idx")
    ivf_build(emb, 16, path)
    q = emb.filter("vec_id < 4")
    before = _probe_sorted(spark, path, q, k=5, nprobe=4)

    # state 1: died between the two renames (postings gone, both
    # retired + compacting present) -> roll FORWARD to compacting
    os.rename(f"{path}/postings", f"{path}/postings_retired")
    shutil.copytree(f"{path}/postings_retired", f"{path}/postings_compacting")
    ivf_compact(spark, path)
    assert before == _probe_sorted(spark, path, q, k=5, nprobe=4)

    # state 2: died after the swap, before rmtree(retired)
    shutil.copytree(f"{path}/postings", f"{path}/postings_retired")
    ivf_compact(spark, path)
    assert not os.path.isdir(f"{path}/postings_retired")
    assert before == _probe_sorted(spark, path, q, k=5, nprobe=4)

    # state 3: died mid-write of compacting (never swapped)
    shutil.copytree(f"{path}/postings", f"{path}/postings_compacting")
    ivf_compact(spark, path)
    assert before == _probe_sorted(spark, path, q, k=5, nprobe=4)

    # state 4: retired present, NO compacting, postings gone — only the
    # retired copy survives; entry must restore it
    os.rename(f"{path}/postings", f"{path}/postings_retired")
    ivf_compact(spark, path)
    assert before == _probe_sorted(spark, path, q, k=5, nprobe=4)


def test_tombstone_marker_crash_recovery(spark, emb, tmp_path):
    """ADVICE r4 #2: a crash between the postings swap and
    rmtree(tombstones) used to leave folded postings with a stale log
    that silently hid any later re-insert of those ids. The
    tombstones_folded marker lets entry recovery finish the removal —
    while a crash BEFORE the swap keeps the log authoritative."""
    from sptag_spark.operators.knn import read_postings

    path = str(tmp_path / "idx")
    ivf_build(emb, 16, path)

    # crash AFTER the swap, before rmtree(tombstones): marker present,
    # no compacting dir, log already folded into live postings -> stale
    ivf_delete(spark, path, emb.filter("vec_id = 3").select("vec_id"))
    ivf_compact(spark, path)                    # normal fold + clear
    emb.filter("vec_id = 5").select("vec_id") \
        .write.mode("overwrite").parquet(f"{path}/tombstones")
    open(f"{path}/tombstones_folded", "w").close()
    ivf_compact(spark, path)                    # entry recovery clears
    live = {r["vec_id"]
            for r in read_postings(spark, path).select("vec_id").collect()}
    assert 5 in live and 3 not in live
    assert not os.path.exists(f"{path}/tombstones_folded")

    # crash BEFORE the swap began: marker + compacting dir present; old
    # postings stay live so the log must survive recovery and fold in
    # the subsequent compact
    ivf_delete(spark, path, emb.filter("vec_id = 7").select("vec_id"))
    shutil.copytree(f"{path}/postings", f"{path}/postings_compacting")
    open(f"{path}/tombstones_folded", "w").close()
    ivf_compact(spark, path)
    live = {r["vec_id"]
            for r in read_postings(spark, path).select("vec_id").collect()}
    assert 7 not in live and 5 in live
    assert not os.path.isdir(f"{path}/tombstones")
    assert not os.path.exists(f"{path}/tombstones_folded")


def test_compact_rejects_remote_paths(spark):
    with pytest.raises(ValueError, match="local"):
        ivf_compact(spark, "s3://bucket/idx")
    with pytest.raises(ValueError, match="local"):
        ivf_compact(spark, "hdfs://nn/idx")


def test_append_schema_guards(spark, emb, tmp_path):
    """Flat append into an ivf_pq index (would write NULL codes that
    sort NULLS FIRST into every ADC candidate set) and pq append into a
    flat index (schema drift) both raise (ADVICE r3 #4)."""
    from sptag_spark.operators.ivfpq import ivf_pq_append

    pq_path, flat_path = str(tmp_path / "pq"), str(tmp_path / "flat")
    ivf_pq_build(emb.filter("vec_id < 100"), 8, pq_path, m=4, k_codes=16)
    ivf_build(emb.filter("vec_id < 100"), 8, flat_path)
    more = emb.filter("vec_id >= 100 AND vec_id < 120")
    with pytest.raises(ValueError, match="ivf_pq_append"):
        ivf_append(spark, pq_path, more)
    with pytest.raises(ValueError, match="ivf_append"):
        ivf_pq_append(spark, flat_path, more)


def test_max_dist_ratio_prunes_probes_same_results_at_high_ratio(
        spark, emb, tmp_path):
    """The reference's maxDistRatio cutoff (SPANNIndex.cpp:324-330): a
    tight ratio reads strictly fewer (query, bucket) probes — fewer
    partitions scanned for easy queries — while a huge ratio is a no-op
    (bit-identical results); the first head always probes."""
    path = str(tmp_path / "idx")
    ivf_build(emb, 16, path)
    q = emb.filter("vec_id < 16")
    cents = probe.load_centroids(spark, path)
    full = probe.probe_frame(q, probe.ivf_kernel(cents, 4))
    cut = probe.probe_frame(
        q, probe.ivf_kernel(cents, 4, max_dist_ratio=1.05))
    assert cut.count() < full.count()
    per_q = (cut.groupBy("query_id").count().agg({"count": "min"})
             .collect()[0][0])
    assert per_q >= 1
    a = _probe_sorted(spark, path, q, k=10, nprobe=4)
    b = _probe_sorted(spark, path, q, k=10, nprobe=4,
                      max_dist_ratio=1e9)
    assert a == b


def test_probe_scratch_dir_on_readonly_index(spark, emb, tmp_path):
    """Wave probes against a READ-ONLY shared index work when the side
    table is redirected to probe_scratch_dir (ADVICE r3 #3/#9), match
    the writable-index result, and cleanup_probe_tables empties the
    scratch dir — for flat IVF and for the BKT tree descent alike."""
    from sptag_spark.operators.bkt import bkt_build, bkt_probe

    q = emb.filter("vec_id < 8")
    for family, probe in (("ivf", ivf_probe), ("bkt", bkt_probe)):
        path = str(tmp_path / family / "idx")
        if family == "bkt":
            bkt_build(emb, path, branch=4, leaf_max=32, cell_iters=5)
        else:
            ivf_build(emb, 16, path)
        want = sorted(map(tuple, probe(spark, path, q, k=5,
                                       nprobe=4).collect()))
        scratch = str(tmp_path / family / "scratch")
        os.makedirs(scratch)
        os.chmod(path, 0o555)
        try:
            got = sorted(map(tuple, probe(
                spark, path, q, k=5, nprobe=4, driver_probe_limit=0,
                probe_scratch_dir=scratch).collect()))
            assert got == want
            assert not os.path.exists(f"{path}/_probes")
            assert os.listdir(scratch)
            cleanup_probe_tables(scratch)
            assert os.listdir(scratch) == []
        finally:
            os.chmod(path, 0o755)
