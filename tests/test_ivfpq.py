"""IVF x PQ composed index (reference ExtraStaticSearcher.h:260-411
ProcessPosting + PQQuantizer.h:111-130 ADC): exactness of the re-rank
tail, recall vs brute force, and the two plan properties that make it
the 100-TB shape — codes-only pruned ADC scan, vectors read only for
re-rank candidates."""

from __future__ import annotations

import re

import pytest

from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe
from sptag_spark.operators.knn import brute_force_topk, ivf_build, \
    ivf_probe, recall_at_k

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    ivf_pq_build(emb, n_centroids=16, path=path, m=4, k_codes=16)
    return path


def test_unbounded_rerank_equals_exact_ivf_probe(spark, emb, index,
                                                 tmp_path):
    """With rerank >= every candidate, ADC prunes nothing and the exact
    re-rank must reproduce plain ivf_probe bit-for-bit (same centroids,
    same bucketing kernel, same scoring tail) — the quantization layer
    only ever DROPS candidates, never rescores survivors."""
    q = emb.filter("vec_id < 4")
    got = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_pq_probe(spark, index, q, k=5, nprobe=4,
                              rerank=10**6).collect()
    )
    ivf_path = str(tmp_path / "ivf")
    ivf_build(emb, n_centroids=16, path=ivf_path)
    want = sorted(
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in ivf_probe(spark, ivf_path, q, k=5, nprobe=4).collect()
    )
    assert got == want


def test_recall_gate_vs_brute_force(spark, emb, tmp_path):
    """The ADC funnel must recover most of what the IVF layer can see:
    absolute floor vs brute force AND >= 80% of the exact-IVF recall at
    the same nprobe (the IVF candidate set caps recall at ~0.65 on this
    near-random synthetic corpus — a data property, so the relative gate
    is the meaningful one; threshold style mirrors the reference recall
    harness, TruthSet.h:242-285)."""
    path = str(tmp_path / "idx8")
    ivf_pq_build(emb, n_centroids=16, path=path, m=8, k_codes=16)
    q = emb.filter("vec_id < 8")
    exact = brute_force_topk(emb, q, k=10)
    approx = ivf_pq_probe(spark, path, q, k=10, nprobe=8, rerank=128)
    r = recall_at_k(approx, exact)
    ivf_path = str(tmp_path / "ivf")
    ivf_build(emb, n_centroids=16, path=ivf_path)
    r_ivf = recall_at_k(
        ivf_probe(spark, ivf_path, q, k=10, nprobe=8), exact)
    assert r >= 0.5, f"recall@10 = {r}"
    assert r >= 0.8 * r_ivf, f"ADC funnel lost too much: {r} vs IVF {r_ivf}"


def test_probe_is_deterministic(spark, emb, index):
    q = emb.filter("vec_id < 4")
    a = sorted(map(tuple, ivf_pq_probe(spark, index, q, k=5).collect()))
    b = sorted(map(tuple, ivf_pq_probe(spark, index, q, k=5).collect()))
    assert a == b


def test_adc_scan_never_reads_embeddings(spark, emb, index):
    """The plan-shape contract: BOTH postings scans are partition-pruned
    on bucket; the ADC scan reads codes WITHOUT the embedding column;
    vectors appear only in the re-rank scan."""
    import contextlib
    import io

    out = ivf_pq_probe(spark, index, emb.filter("vec_id < 4"), k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    # detail entries only (the tree section mentions "Scan parquet"
    # without Location/ReadSchema)
    scans = [s for s in p.split("Scan parquet")[1:]
             if "Location" in s and "ReadSchema" in s
             and "postings" in s.split("Location")[1].splitlines()[0]]
    assert len(scans) == 2, p
    schemas = [s.split("ReadSchema: ")[1].splitlines()[0] for s in scans]
    adc = [s for s in schemas if "codes" in s]
    rer = [s for s in schemas if "embedding" in s]
    assert len(adc) == 1 and len(rer) == 1, schemas
    assert "embedding" not in adc[0], adc[0]
    assert "codes" not in rer[0], rer[0]
    for s in scans:
        assert re.search(r"PartitionFilters: \[bucket#\d+ IN", s), s
    assert out.count() > 0


def test_ivf_pq_join_mode_equals_driver_mode(spark, emb, index):
    """The wave path (executor-side probe table + DPP + executor-built
    ADC tables, no query collect anywhere) must reproduce the driver
    path bit-for-bit."""
    q = emb.filter("vec_id < 16")
    a = sorted(map(tuple, ivf_pq_probe(
        spark, index, q, k=5, nprobe=4, rerank=32).collect()))
    b = sorted(map(tuple, ivf_pq_probe(
        spark, index, q, k=5, nprobe=4, rerank=32,
        driver_probe_limit=0).collect()))
    assert a == b and len(a) == 80


def test_ivf_pq_incremental_lifecycle_matches_rebuild(spark, emb,
                                                      tmp_path):
    """Append/delete/compact on the COMPOSED index: new vectors are
    assigned AND PQ-encoded against the existing heads + codebooks; at
    every step probing equals a from-scratch rebuild over the surviving
    corpus with both quantization tiers pinned."""
    import os

    from sptag_spark.operators.ivfpq import (
        _read_codebooks, ivf_pq_append,
    )
    from sptag_spark.operators.knn import ivf_compact, ivf_delete

    path = str(tmp_path / "idx")
    ivf_pq_build(emb.filter("vec_id < 300"), n_centroids=16, path=path,
                 m=4, k_codes=16)
    centroids = spark.read.parquet(f"{path}/centroids")
    books = _read_codebooks(spark, path)
    ivf_pq_append(spark, path, emb.filter("vec_id >= 300"))
    ivf_delete(spark, path, emb.filter("vec_id % 7 = 0").select("vec_id"))

    q = emb.filter("vec_id < 8 AND vec_id % 7 != 0")
    probe = lambda p: sorted(map(tuple, ivf_pq_probe(
        spark, p, q, k=5, nprobe=4, rerank=32).collect()))
    inc = probe(path)
    assert inc and all(r[1] % 7 != 0 for r in inc)

    rebuilt = str(tmp_path / "rebuilt")
    ivf_pq_build(emb.filter("vec_id % 7 != 0"), n_centroids=16,
                 path=rebuilt, centroids=centroids, codebooks=books)
    assert inc == probe(rebuilt)

    # a wave probe leaves a side table; compact cleans it AND the
    # tombstones, preserving results
    ivf_pq_probe(spark, path, q, k=5, nprobe=4, rerank=32,
                 driver_probe_limit=0).collect()
    assert os.path.isdir(f"{path}/_probes")
    ivf_compact(spark, path)
    assert not os.path.isdir(f"{path}/tombstones")
    assert not os.path.isdir(f"{path}/_probes")
    assert inc == probe(path)
