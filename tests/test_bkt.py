"""Multi-level balanced k-means tree (BKT): fit recursion and leaf
bounds, determinism, the fixture-pinned fit, lifecycle composition, and
the VERDICT r1 #6 gate — >= 1024 heads at sf0.1 with bounded build time
and a real recall floor (reference BKTree.h:524-865; recall harness
shape TruthSet.h:242-285)."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

FIXTURE = Path(__file__).parent / "fixtures" / "bkt_fit_sf0001_branch4_leaf16.npz"


@pytest.fixture(scope="module")
def emb_small(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .cache()
    yield df
    df.unpersist()


def test_1024_heads_recall_gate_sf01(spark, tmp_path):
    """>= 1024 heads over the sf0.1 corpus, built in bounded time; the
    pruned probe must clearly beat its candidate-fraction random floor.
    A depth-2 tree: 32 roots, each split into 32 leaves."""
    import time

    from sptag_spark.operators.bkt import bkt_build, bkt_probe
    from sptag_spark.operators.knn import brute_force_topk, recall_at_k

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    path = str(tmp_path / "bkt")
    t0 = time.time()
    bkt_build(emb, path, branch=32, max_levels=2, leaf_max=1)
    build_sec = time.time() - t0
    assert build_sec < 300, f"build took {build_sec:.0f}s"
    n_leaves = spark.read.parquet(f"{path}/centroids").count()
    assert n_leaves >= 1024, n_leaves
    q = emb.filter("vec_id < 8")
    approx = bkt_probe(spark, path, q, k=10, nprobe=32)
    exact = brute_force_topk(emb, q, k=10)
    r = recall_at_k(approx, exact)
    # 32 of 1024 buckets probed (~3% of the corpus scanned): random
    # floor ~0.03; gate an order of magnitude above it.
    assert r >= 0.3, f"recall@10 = {r}"


def _levels(parent):
    lv = np.zeros(len(parent), dtype=int)
    for i, p in enumerate(parent):   # parents are created before children
        if p >= 0:
            lv[i] = lv[p] + 1
    return lv


def test_multilevel_fit_recurses_and_bounds_leaves(emb_small):
    """Reference BKTree.h:524-865: the tree recurses past two levels and
    every leaf holds <= leaf_max rows. Fit-time cells and assign-time
    buckets use the SAME cosine descent, so the bound is exact."""
    from sptag_spark.operators.bkt import bkt_assign, bkt_fit

    parent, cents, is_leaf = bkt_fit(
        emb_small, branch=4, leaf_max=16, coarse_iters=3, cell_iters=5,
        fit_sample=1_000_000)
    lv = _levels(parent)
    assert lv.max() >= 2, f"tree never recursed: depth {lv.max()}"
    assert (~is_leaf[parent[parent >= 0]]).all()  # parents are internal
    rows = bkt_assign(emb_small, parent, cents, is_leaf).collect()
    assert len(rows) == emb_small.count()
    buckets = np.array([r["bucket"] for r in rows])
    assert is_leaf[buckets].all(), "assignments must land on leaves"
    _, counts = np.unique(buckets, return_counts=True)
    assert counts.max() <= 16, f"leaf overflow: {counts.max()}"


def test_multilevel_fit_is_deterministic(emb_small):
    from sptag_spark.operators.bkt import bkt_fit

    a = bkt_fit(emb_small, branch=4, leaf_max=32, coarse_iters=3,
                cell_iters=5)
    b = bkt_fit(emb_small, branch=4, leaf_max=32, coarse_iters=3,
                cell_iters=5)
    assert np.array_equal(a[0], b[0])
    assert np.array_equal(a[1], b[1])
    assert np.array_equal(a[2], b[2])


def test_multilevel_fit_matches_pinned_fixture(emb_small):
    """bkt_fit's (parent, centroids, is_leaf) is bit-identical to the
    pinned fit of the same corpus and shape (a 92-node tree): the root
    tier's bkt_assign pass and each level's descent must place every row
    exactly as the pinned fit did."""
    from sptag_spark.operators.bkt import bkt_fit

    want = np.load(FIXTURE)
    parent, cents, is_leaf = bkt_fit(emb_small, branch=4, leaf_max=16)
    assert len(parent) == 92
    assert np.array_equal(parent, want["parent"])
    assert np.array_equal(cents, want["centroids"])
    assert np.array_equal(is_leaf, want["is_leaf"])


def test_cell_fit_sample_bounds_per_task_rows(emb_small):
    """The per-level cell fit must never materialize a whole cell in one
    pandas task (VERDICT r5 wrong #1): the sampled fit source caps every
    cell at ~fit_sample rows (hash expectation; fit_cell then hard-caps
    with head(fit_sample)), deterministically."""
    from sptag_spark.operators.bkt import _cell_fit_sample
    from sptag_spark.operators.kmeans import kmeans_fit

    _, assigned = kmeans_fit(emb_small, 4, iters=3)
    src = assigned.select("vec_id", "embedding",
                          F.col("cluster").cast("long").alias("__node"))
    full = {r["__node"]: r["n"] for r in
            src.groupBy("__node")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    cells = sorted(full)
    cap = 50
    assert any(n > cap for n in full.values())  # the test is real

    def sample(c):
        return _cell_fit_sample(src, full, cells, c, level=1)

    counts = {r["__node"]: r["n"] for r in
              sample(cap).groupBy("__node")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(cells)
    for c, n in counts.items():
        # hash sample: expected `cap` rows; 3x is >6 sigma headroom,
        # and fit_cell's head(cap) makes the task bound exact anyway
        assert n <= 3 * cap, (c, n)
        assert n >= 1
    # deterministic: same sample both times
    a = sorted(r["vec_id"] for r in sample(cap).collect())
    b = sorted(r["vec_id"] for r in sample(cap).collect())
    assert a == b
    # cells at or under the cap pass through whole (no-op path)
    assert sample(max(full.values())).count() == sum(full.values())


def test_fit_with_sampling_still_valid(emb_small):
    """A fit_sample below the cell sizes fits every split on a hash
    sample of its cell: still deterministic, still bounded (the stop
    rule counts the full cells, not the sample), and really sampled —
    the tree differs from the pinned whole-cell fit."""
    from sptag_spark.operators.bkt import bkt_assign, bkt_fit

    a = bkt_fit(emb_small, branch=4, leaf_max=16, fit_sample=16)
    b = bkt_fit(emb_small, branch=4, leaf_max=16, fit_sample=16)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    parent, cents, is_leaf = a
    buckets = np.array([r["bucket"] for r in
                        bkt_assign(emb_small, *a).collect()])
    assert is_leaf[buckets].all()
    assert np.unique(buckets, return_counts=True)[1].max() <= 16
    whole = np.load(FIXTURE)
    assert not (len(parent) == len(whole["parent"])
                and np.array_equal(cents, whole["centroids"]))


def test_multilevel_probe_recall_parity_with_flat_ivf(emb_small, spark,
                                                      tmp_path):
    """VERDICT r4 #6 gate: at an equal probed-bucket budget (same
    expected fraction of the corpus scanned), the multi-level tree's
    recall matches flat IVF — the hierarchy buys O(depth·branch) head
    selection without giving up result quality."""
    from sptag_spark.operators.bkt import bkt_build, bkt_probe
    from sptag_spark.operators.knn import (
        brute_force_topk, ivf_build, ivf_probe, recall_at_k)

    bpath, ipath = str(tmp_path / "bkt"), str(tmp_path / "ivf")
    bkt_build(emb_small, bpath, branch=4, leaf_max=32, cell_iters=5)
    n_leaves = int(spark.read.parquet(f"{bpath}/tree")
                   .filter("is_leaf").count())
    assert n_leaves >= 8
    ivf_build(emb_small, n_centroids=32, path=ipath)
    q = emb_small.filter("vec_id < 8")
    exact = brute_force_topk(emb_small, q, k=10)
    # probe the same fraction of buckets in both indexes
    frac = 4 / 32
    bkt_np = max(1, round(n_leaves * frac))
    approx_bkt = bkt_probe(spark, bpath, q, k=10, nprobe=bkt_np)
    approx_ivf = ivf_probe(spark, ipath, q, k=10, nprobe=4)
    r_bkt = recall_at_k(approx_bkt, exact)
    r_ivf = recall_at_k(approx_ivf, exact)
    assert r_bkt >= r_ivf - 0.1, f"bkt {r_bkt} vs ivf {r_ivf}"
    assert r_bkt >= 0.3, f"recall@10 = {r_bkt}"


def test_multilevel_probe_is_deterministic_and_leaf_only(emb_small, spark,
                                                         tmp_path):
    from sptag_spark.operators.bkt import _bkt_kernel, _read_tree, bkt_build
    from sptag_spark.operators.probe import probe_frame

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=32, cell_iters=5)
    parent, cents, is_leaf = _read_tree(spark, path)
    q = emb_small.filter("vec_id < 8")
    a = sorted((r["query_id"], r["bucket"]) for r in
               probe_frame(q, _bkt_kernel(parent, cents, is_leaf, 4))
               .collect())
    b = sorted((r["query_id"], r["bucket"]) for r in
               probe_frame(q, _bkt_kernel(parent, cents, is_leaf, 4))
               .collect())
    assert a == b
    assert len(a) == 8 * 4
    assert all(is_leaf[bk] for _, bk in a)


def test_multilevel_lifecycle_split_merge_delete(emb_small, spark,
                                                 tmp_path):
    """The flat leaf table makes the BKT index lifecycle-compatible:
    ivf_split/ivf_merge/ivf_delete evolve `centroids`+`postings` without
    touching the tree, and probes reconcile — retired leaves are
    skipped, split-born heads are flat-scored. Gate: probing EVERY live
    head equals brute force at every lifecycle stage (full coverage
    means approximation can hide nothing)."""
    from sptag_spark.operators.bkt import bkt_build, bkt_probe
    from sptag_spark.operators.knn import (
        brute_force_topk, ivf_delete, ivf_merge, ivf_split)

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=64, cell_iters=5)
    q = emb_small.filter("vec_id < 5")

    def n_heads():
        return spark.read.parquet(f"{path}/centroids").count()

    def probe_all():
        got = bkt_probe(spark, path, q, k=8, nprobe=n_heads()).collect()
        return sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                      for r in got)

    want = sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                  for r in brute_force_topk(emb_small, q, k=8).collect())
    assert probe_all() == want

    # split: over-limit leaves 2-means in place; new heads are tree
    # orphans (flat-scored at probe time)
    h0 = n_heads()
    n_splits = ivf_split(spark, path, max_posting_size=40)
    assert n_splits > 0 and n_heads() > h0
    assert probe_all() == want

    # merge: tiny postings retire their head; the tree leaf goes dead
    # and descent must skip it
    merged = ivf_merge(spark, path, min_posting_size=25)
    assert merged > 0
    assert probe_all() == want

    # delete: tombstones flow through the shared probe tail
    ivf_delete(spark, path, emb_small.filter("vec_id IN (11, 12)")
               .select("vec_id"))
    got = bkt_probe(spark, path, q, k=8, nprobe=n_heads()).collect()
    assert all(r["vec_id"] not in (11, 12) for r in got)
    want_del = brute_force_topk(emb_small.filter("vec_id NOT IN (11, 12)"),
                                q, k=8).collect()
    assert sorted((r["query_id"], r["rank"], r["vec_id"]) for r in got) \
        == sorted((r["query_id"], r["rank"], r["vec_id"])
                  for r in want_del)


def test_relaxed_mono_over_bkt_index(emb_small, spark, tmp_path):
    """The Relaxed-Monotonicity scan only needs the flat
    centroids+postings contract, which the BKT index shares: with no
    budget its result over a BKT index equals the exact flat ranking
    and no row flags (Q4 composes with Q5)."""
    from sptag_spark.operators.bkt import bkt_build
    from sptag_spark.operators.knn import brute_force_topk, relaxed_mono_topk

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=64, cell_iters=5)
    qvec = [float(x)
            for x in emb_small.filter("vec_id = 0").first()["embedding"]]

    got = relaxed_mono_topk(spark, path, qvec, k=27).collect()
    want = sorted(brute_force_topk(emb_small, emb_small.filter("vec_id = 0"),
                                   k=27, exclude_self=False).collect(),
                  key=lambda r: r["rank"])
    assert [(r["vec_id"], r["cosine"]) for r in got] \
        == [(r["vec_id"], r["cosine"]) for r in want]
    assert all(r["relaxed_mono"] == 0 for r in got)


def test_stream_ingest_into_bkt_index(emb_small, spark, tmp_path):
    """Streaming vector ingest (T2) composes with the multi-level tree
    (Q5): micro-batches assign against the flat leaf table; probes
    reconcile orphans/dead leaves, so probing every live head after the
    drain equals brute force over the grown corpus."""
    from sptag_spark.operators.bkt import bkt_build, bkt_probe
    from sptag_spark.operators.knn import brute_force_topk
    from sptag_spark.streaming.jobs import stream_ann_ingest

    base = emb_small.filter("vec_id < 400")
    path = str(tmp_path / "bkt")
    bkt_build(base, path, branch=4, leaf_max=64, cell_iters=5)

    src = str(tmp_path / "extras_src")
    emb_small.filter("vec_id >= 400").repartition(3) \
        .write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(emb_small.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    stream_ann_ingest(stream, path, str(tmp_path / "ckpt"),
                      max_posting_size=80).awaitTermination()

    n_heads = spark.read.parquet(f"{path}/centroids").count()
    q = emb_small.filter("vec_id < 5")
    got = sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                 for r in bkt_probe(spark, path, q, k=8,
                                    nprobe=n_heads).collect())
    want = sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                  for r in brute_force_topk(emb_small, q, k=8).collect())
    assert got == want


def test_reminted_leaf_id_is_not_routed_by_stale_tree_centroid(
        emb_small, spark, tmp_path):
    """ivf_split mints head ids above max(centroid_id); once ivf_merge
    has retired high-id leaves, a later split can RE-MINT a retired
    tree-leaf id. The probe must classify that head by VECTOR identity
    (orphan, flat-scored by its real head vector) — not route it by the
    dead leaf's stale tree centroid. Gate: the collision actually
    occurs, and full-coverage probe still equals brute force."""
    import numpy as np

    from sptag_spark.operators.bkt import _read_tree, bkt_build, bkt_probe
    from sptag_spark.operators.knn import (
        brute_force_topk, ivf_merge, ivf_split)

    from sptag_spark.operators.knn import ivf_delete

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=64, cell_iters=5)
    parent, cents, is_leaf = _read_tree(spark, path)
    leaf_ids = set(int(i) for i in np.where(is_leaf)[0])

    def heads():
        return {int(r["centroid_id"]): list(r["centroid_vec"]) for r in
                spark.read.parquet(f"{path}/centroids").collect()}

    def sizes():
        return {r["bucket"]: r["n"] for r in
                spark.read.parquet(f"{path}/postings").groupBy("bucket")
                .agg(F.count("*").alias("n")).collect()}

    # retire EXACTLY the max-id leaf: tombstone its rows, then merge
    # away the now-empty head. Node top-1 is necessarily also a leaf
    # (it cannot own two children above itself), so the next split
    # mints max_live+1 == top — a guaranteed id collision with the
    # retired tree leaf.
    top = max(heads())
    dead_ids = [r["vec_id"] for r in
                spark.read.parquet(f"{path}/postings")
                .filter(F.col("bucket") == top).select("vec_id").collect()]
    ivf_delete(spark, path,
               emb_small.filter(F.col("vec_id").isin(dead_ids))
               .select("vec_id"))
    smallest_live = min(n for b, n in sizes().items() if b != top)
    assert smallest_live >= 2, "choreography needs no other tiny bucket"
    assert ivf_merge(spark, path, min_posting_size=2) > 0
    hv = heads()
    assert top not in hv and max(hv) == top - 1

    before = set(hv)
    thresh = max(sizes().values()) - 1
    assert ivf_split(spark, path, max_posting_size=thresh) > 0
    minted = set(heads()) - before
    assert top in minted, (minted, top)
    collided = {m for m in minted if m in leaf_ids}
    # the collided head's stored vector differs from the stale tree
    # centroid — the classification input the fix keys on
    hv = heads()
    assert all(not np.array_equal(np.asarray(hv[m]), cents[m])
               for m in collided)

    q = emb_small.filter("vec_id < 5")
    got = sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                 for r in bkt_probe(spark, path, q, k=8,
                                    nprobe=len(hv)).collect())
    survivors = emb_small.filter(~F.col("vec_id").isin(dead_ids))
    want = sorted((r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                  for r in brute_force_topk(survivors, q, k=8).collect())
    assert got == want


def test_cli_reassign_rejects_bkt_index(spark, emb_small, tmp_path,
                                        monkeypatch):
    """`ann_index.py reassign` must refuse bkt indexes (ADVICE r5):
    ivf_reassign's flat nearest-head placement would silently
    desynchronize bucket contents from the tree's greedy descent.
    In-process main (the spark-submit chain is covered by the lifecycle
    test); stop() is patched out so the shared test session survives
    the reject path."""
    import contextlib
    import importlib.util
    import io
    import json
    import os

    from sptag_spark.operators.bkt import bkt_build

    spec = importlib.util.spec_from_file_location(
        "ann_index_job", os.path.join(os.path.dirname(__file__),
                                      "..", "jobs", "ann_index.py"))
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    path = str(tmp_path / "idx")
    bkt_build(emb_small, path, branch=4, leaf_max=64, max_levels=3)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["reassign", "--index", path])
    assert rc == 2
    msg = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert "not supported for bkt" in msg["error"]
    # the index itself is untouched
    post = spark.read.parquet(f"{path}/postings")
    assert post.count() == emb_small.count()


def test_budget_walk_tree_descent_order(emb_small, spark, tmp_path):
    """VERDICT r5 #7: on a bkt index the budgeted scan's head walk is
    the tree's own SPTQueue best-first descent, not a flat global sort.
    Frontier-order assert: the probed sequence equals an independent
    heapq walk over the persisted tree, and on a depth>=2 tree it
    differs from the flat cosine sort."""
    import heapq

    from sptag_spark.operators.bkt import _read_tree, bkt_build
    from sptag_spark.operators.knn import _budget_kernel
    from sptag_spark.functions.vecarrow import (exact_int_matmul,
                                                np_quantize)

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=32, cell_iters=5)
    parent, cents, is_leaf = _read_tree(spark, path)
    qvec = [float(x)
            for x in emb_small.filter("vec_id = 7").first()["embedding"]]

    # independent walk: plain heapq over the tree parquet, engine
    # cosine arithmetic (quantized ints, dot/(qn*cn))
    q = np_quantize(np.asarray([qvec]))[0]
    qn = float(np.sqrt(float((q * q).sum())))
    cq = np_quantize(cents)
    cn = np.sqrt((cq * cq).sum(axis=1).astype(np.float64))
    allcos = exact_int_matmul(q[None, :], cq.T)[0] / (qn * cn)
    kids = {}
    for i, p in enumerate(parent.tolist()):
        if p >= 0:
            kids.setdefault(p, []).append(i)
    heap = [(-float(allcos[i]), i)
            for i in np.where(parent < 0)[0].tolist()]
    heapq.heapify(heap)
    want = []
    while heap:
        negc, nd = heapq.heappop(heap)
        if is_leaf[nd]:
            want.append(nd)
        else:
            for c in kids[nd]:
                heapq.heappush(heap, (-float(allcos[c]), c))

    _, buckets, _ = _budget_kernel(spark, path, None).fn(
        np.asarray([qvec], dtype=np.float64))
    probed = [int(c) for c in buckets]
    assert probed == want
    flat_sorted = sorted(want, key=lambda n: (-float(allcos[n]), n))
    assert probed != flat_sorted  # descent emission is NOT a global sort


def test_budget_walk_flat_tree_parity_one_level(emb_small, spark,
                                                tmp_path):
    """On a ONE-level tree (every root is a leaf) the SPTQueue descent
    degenerates to the flat best-first sort, so the tree walk and the
    flat walk must agree row-for-row — probe sets, cosines, ranks,
    thresholds and relaxed_mono flags — under a binding budget. The
    walk follows the persisted index_type: a copy of the index whose
    meta drops index_type='bkt' takes the flat walk."""
    import shutil

    from sptag_spark.operators.bkt import _read_tree, bkt_build
    from sptag_spark.operators.knn import (_write_index_meta,
                                           read_index_meta,
                                           relaxed_mono_topk)

    path = str(tmp_path / "bkt1")
    bkt_build(emb_small, path, branch=4, leaf_max=512, cell_iters=5)
    parent, _, is_leaf = _read_tree(spark, path)
    assert bool(is_leaf.all()) and int((parent < 0).sum()) == len(parent)
    flat = str(tmp_path / "bkt1_flat")
    shutil.copytree(path, flat)
    _write_index_meta(spark, flat, branch=4, leaf_max=512)
    assert "index_type" not in read_index_meta(spark, flat)
    qvec = [float(x)
            for x in emb_small.filter("vec_id = 3").first()["embedding"]]
    rows = lambda p: sorted(  # noqa: E731
        ((r["vec_id"], r["cosine"], r["rank"], r["relaxed_mono"])
         for r in relaxed_mono_topk(spark, p, qvec, k=25,
                                    max_check=150).collect()))
    assert rows(path) == rows(flat) and len(rows(path)) == 25


def test_budget_batch_matches_per_query_on_bkt(emb_small, spark,
                                               tmp_path):
    """Query-frame budget walk on a bkt index runs the same SPTQueue
    descent + sequential budget rule inside the Arrow kernel: per-query
    parity with the driver-walk cursor on a depth>=2 tree, budget
    binding."""
    from sptag_spark.operators.bkt import bkt_build
    from sptag_spark.operators.knn import (relaxed_mono_topk,
                                           relaxed_mono_topk_batch)

    path = str(tmp_path / "bkt")
    bkt_build(emb_small, path, branch=4, leaf_max=32, cell_iters=5)
    qdf = emb_small.filter("vec_id < 6")
    got = {}
    for r in relaxed_mono_topk_batch(spark, path, qdf, k=15,
                                     max_check=120).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"], r["relaxed_mono"]))
    assert set(got) == set(range(6))
    for r in qdf.select("vec_id", "embedding").collect():
        qvec = [float(x) for x in r["embedding"]]
        want = [(w["rank"], w["vec_id"], w["cosine"], w["relaxed_mono"])
                for w in relaxed_mono_topk(spark, path, qvec, k=15,
                                           max_check=120).collect()]
        assert sorted(got[r["vec_id"]]) == sorted(want), r["vec_id"]


def test_cli_search_max_check_budgeted(spark, emb_small, tmp_path,
                                       monkeypatch):
    """`ann_index.py search --max-check` rents the query-frame budgeted
    cursor (reference p_maxCheck): results match the library call and
    carry relaxed_mono; on a bkt index the walk is the tree descent.
    In-process main; stop() patched out (reject path probes pq guard)."""
    import contextlib
    import importlib.util
    import io
    import json
    import os

    from sptag_spark.operators.bkt import bkt_build
    from sptag_spark.operators.knn import relaxed_mono_topk_batch

    spec = importlib.util.spec_from_file_location(
        "ann_index_job", os.path.join(os.path.dirname(__file__),
                                      "..", "jobs", "ann_index.py"))
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    path = str(tmp_path / "idx")
    bkt_build(emb_small, path, branch=4, leaf_max=32, cell_iters=5)
    qs = str(tmp_path / "q")
    emb_small.filter("vec_id < 4").write.parquet(qs)
    out = str(tmp_path / "res")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["search", "--index", path, "--queries", qs,
                       "--out", out, "--k", "10", "--max-check", "120"])
    assert rc == 0 or rc is None
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m["results"] == 40 and m["queries"] == 4
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"],
         r["relaxed_mono"])
        for r in spark.read.parquet(out).collect())
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"],
         r["relaxed_mono"])
        for r in relaxed_mono_topk_batch(
            spark, path, emb_small.filter("vec_id < 4"), k=10,
            max_check=120).collect())
    assert got == want

    # --max-check rejects --max-dist-ratio combos
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(["search", "--index", path, "--queries", qs,
                       "--out", str(tmp_path / "res2"), "--k", "5",
                       "--max-check", "120", "--max-dist-ratio", "0.5"])
    assert rc == 2
    assert "not supported" in json.loads(
        buf.getvalue().strip().splitlines()[-1])["error"]
