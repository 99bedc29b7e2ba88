"""Multi-level balanced k-means tree (BKT) — the one tree index.

The reference builds a *tree* of balanced k-means so head selection costs
O(depth·branch) per probe instead of O(C) (BKTree.h:524-865); at 100 TB
you want ~10^5 heads, and a flat argmax over that many centroids neither
compiles as expressions nor matmuls cheaply. The Spark restatement keeps
the reference's uneven, data-adaptive recursion:

- fit (`bkt_fit`): distributed balanced k-means for the root tier
  (operators/kmeans.py), then per level one applyInPandas pass fits
  `branch` children inside every cell that still holds > leaf_max rows,
  on a DETERMINISTIC hash sample capped at fit_sample rows per cell, so
  a task never materializes a giant cell (the reference samples too:
  BKTree.h:545 m_iSamples). Cells at or under leaf_max stop splitting.
- assign (`bkt_assign`): vectorized greedy descent per Arrow batch,
  cosine argmax level by level — O(depth·branch) dots per row, the BKT
  tree walk (BKTree.h:799-827). The fit descends with the same rule, so
  fit-time cells equal assign-time buckets.
- probe (`bkt_probe`): per-query BEST-FIRST descent with a priority
  queue over the (tiny, broadcast) tree — pop the closest node, expand
  its children, emit leaves until nprobe buckets (BKTree.h:799-865
  SearchTrees' m_SPTQueue) — then the shared partition-pruned scoring
  tail (operators/probe.py).

bucket id = leaf node id, so the persisted postings follow the same
partitionBy('bucket') contract as knn.ivf_build.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sptag_spark.functions.vecarrow import (
    exact_int_matmul,
    list_to_matrix,
    np_quantize,
)
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from sptag_spark.operators.kmeans import kmeans_fit


def _cos_scores(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Cosine of float64 rows X against centroid rows C (assignment
    metric — internal to head selection, no cross-engine contract)."""
    xn = np.sqrt((X * X).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    cn = np.where(cn == 0, 1.0, cn)
    xn = np.where(xn == 0, 1.0, xn)
    return (X @ C.T) / (xn[:, None] * cn[None, :])


def _np_kmeans(X: np.ndarray, k: int, iters: int = 20) -> np.ndarray:
    """Deterministic numpy Lloyd over one cell's fit sample (init = the
    first k rows, which fit_cell sorts by id)."""
    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def _cell_fit_sample(
    frontier: DataFrame,
    sizes: dict,
    to_split: list,
    fit_sample: int,
    level: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic per-cell sample of the `to_split` cells of
    `frontier` (keyed by `__node`; `sizes` maps node -> row count): keep
    a row iff xxhash64(id, level) mod 2^30 < frac·2^30 — expected
    fit_sample rows per cell without materializing the cell. Cells at or
    under fit_sample pass through whole."""
    import pandas as pd

    m = 1 << 30
    keep = pd.DataFrame({
        "__node": to_split,
        "__keep": [min(m, int(np.ceil(fit_sample / sizes[n] * m)))
                   for n in to_split],
    })
    keep_df = F.broadcast(frontier.sparkSession.createDataFrame(keep))
    return frontier.join(keep_df, "__node").filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(level)), F.lit(m))
        < F.col("__keep"))


def bkt_fit(
    corpus: DataFrame,
    branch: int = 8,
    leaf_max: int = 256,
    max_levels: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_iters: int = 8,
    cell_iters: int = 10,
    fit_sample: int = 4096,
    root_sample: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit the multi-level tree. Returns (parent, centroids, is_leaf):
    ``parent[i]`` = parent node id (-1 for roots), ``centroids`` is
    (n_nodes, dim) float64, ``is_leaf[i]`` marks nodes that own postings
    (bucket id == node id). Deterministic end-to-end: md5 k-means init,
    xxhash64 cell sampling, id-ordered Lloyd init per cell.

    `root_sample` (0 = off): fit the root k-means on a deterministic
    xxhash sample of ~this many rows — the reference samples its
    per-node k-means too (BKTree.h:545 m_iSamples). Full-corpus Lloyd
    passes dominate the build (8 scans; they scan-scale at 0.955 N->4N
    but at 10^9 rows are not a viable fit strategy), so ENABLE this
    (e.g. 200_000) on large corpora: measured 3.3x absolute build
    speedup at 1M rows, with the sampled fit's fixed per-iteration
    costs amortizing as N grows (BENCH.md round-5 BKT section).
    Assignment always descends the full corpus either way."""
    import pandas as pd
    from pyspark.sql.types import LongType

    spark = corpus.sparkSession
    fit_src = corpus
    if root_sample:
        # count only when sampling is on — it costs a full corpus scan
        n_rows = corpus.count()
        if n_rows > root_sample:
            m0 = 1 << 30
            frac_keep = min(m0, int(np.ceil(root_sample / n_rows * m0)))
            fit_src = corpus.filter(
                F.pmod(F.xxhash64(F.col(id_col), F.lit(-1)), F.lit(m0))
                < F.lit(frac_keep))
    coarse, _ = kmeans_fit(
        fit_src, branch, id_col=id_col, vec_col=vec_col,
        iters=coarse_iters)
    cents: list[np.ndarray] = [np.asarray(coarse[i], dtype=np.float64)
                               for i in range(len(coarse))]
    parent: list[int] = [-1] * len(coarse)

    # Root frontier = bkt_assign over the roots-only tree (not the
    # k-means L2 labels): fit-time cell contents then equal assign-time
    # cell contents at every level, so the <= leaf_max stop condition is
    # a real bound on the final postings, not an estimate. len(cents),
    # not `branch`: a corpus smaller than the branch factor seeds fewer
    # roots.
    frontier = bkt_assign(
        corpus.select(id_col, vec_col), np.asarray(parent, dtype=np.int64),
        np.stack(cents), np.ones(len(cents), dtype=bool), id_col, vec_col,
    ).withColumnRenamed("bucket", "__node").persist()
    try:
        for level in range(1, max_levels):
            sizes = {r["__node"]: r["n"] for r in
                     frontier.groupBy("__node")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
            to_split = sorted(n for n, c in sizes.items() if c > leaf_max)
            if not to_split:
                break
            sample = _cell_fit_sample(
                frontier, sizes, to_split, fit_sample, level, id_col)

            out_schema = StructType([
                StructField("__node", LongType()),
                StructField("child_idx", IntegerType()),
                StructField("centroid", ArrayType(DoubleType())),
            ])
            bb, ic, vc, iters_, cap = branch, id_col, vec_col, \
                cell_iters, fit_sample

            def fit_cell(pdf):
                pdf = pdf.sort_values(ic, kind="mergesort").head(cap)
                X = np.array(pdf[vc].tolist(), dtype=np.float64)
                kk = min(bb, len(X))
                C = _np_kmeans(X, kk, iters=iters_)
                node = int(pdf["__node"].iloc[0])
                return pd.DataFrame({
                    "__node": [node] * kk,
                    "child_idx": list(range(kk)),
                    "centroid": [list(map(float, c)) for c in C],
                })

            fitted = (sample.select("__node", id_col, vec_col)
                      .groupBy("__node")
                      .applyInPandas(fit_cell, schema=out_schema).collect())
            by_node: dict[int, list] = {}
            for r in fitted:
                by_node.setdefault(int(r["__node"]), []).append(
                    (int(r["child_idx"]), r["centroid"]))
            child_map: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            for n in to_split:
                ch = sorted(by_node.get(int(n), []))
                if len(ch) < 2:
                    continue  # degenerate sample: the cell stays a leaf
                ids = []
                for _, cvec in ch:
                    nid = len(cents)
                    cents.append(np.asarray(cvec, dtype=np.float64))
                    parent.append(int(n))
                    ids.append(nid)
                child_map[int(n)] = (
                    np.asarray(ids, dtype=np.int64),
                    np.stack([cents[i] for i in ids]),
                )
            if not child_map:
                break

            # rows in freshly-split cells descend one level; leaf-cell
            # rows exit the frontier (their bucket is already final)
            split_pdf = pd.DataFrame(
                {"__node": sorted(child_map)})
            split_df = F.broadcast(spark.createDataFrame(split_pdf))
            schema = frontier.schema
            names = [f.name for f in schema.fields]
            bmap = child_map

            def descend(batches):
                import pyarrow as pa

                for batch in batches:
                    X = list_to_matrix(batch.column(vc), np.float64)
                    nodes = batch.column("__node")
                    if isinstance(nodes, pa.ChunkedArray):
                        nodes = nodes.combine_chunks()
                    nodes = nodes.to_numpy(zero_copy_only=False).copy()
                    for n in np.unique(nodes):
                        ids, mat = bmap[int(n)]
                        idx = np.where(nodes == n)[0]
                        nodes[idx] = ids[
                            _cos_scores(X[idx], mat).argmax(axis=1)]
                    arrays = [batch.column(nm) for nm in names[:-1]]
                    yield pa.RecordBatch.from_arrays(
                        arrays + [pa.array(nodes)], names=names)

            nxt = (frontier.join(split_df, "__node", "semi")
                   .select(*names)
                   .mapInArrow(descend, schema=schema).persist())
            nxt.count()  # materialize before dropping the parent cache
            frontier.unpersist()
            frontier = nxt
    finally:
        frontier.unpersist()

    parent_arr = np.asarray(parent, dtype=np.int64)
    n_nodes = len(parent_arr)
    is_leaf = np.ones(n_nodes, dtype=bool)
    is_leaf[parent_arr[parent_arr >= 0]] = False
    return parent_arr, np.stack(cents), is_leaf


def _children_index(parent: np.ndarray):
    """node id -> (child ids ascending, child centroid matrix) lookup,
    built once per kernel closure from the parent pointers."""
    idx: dict[int, list[int]] = {}
    for i, p in enumerate(parent.tolist()):
        if p >= 0:
            idx.setdefault(p, []).append(i)
    return idx


def _reconcile_heads(spark, path: str, cents: np.ndarray,
                     is_leaf: np.ndarray):
    """Reconcile the tree against the flat `centroids` table (the
    lifecycle-evolved head set): returns (live_leaf_ids,
    (orphan_ids, orphan_matrix) | None).

    A head is a LIVE tree leaf only if its id is a leaf AND its stored
    vector equals the tree's centroid bit-for-bit (both were written
    from the same floats at build time). The id test alone is not
    enough: ivf_split mints ids above max(centroid_id), and after
    ivf_merge retires high-id leaves that max can dip below a retired
    leaf's id — a re-minted id would otherwise be routed by the DEAD
    leaf's stale tree centroid instead of flat-scored by its real head
    vector. Shared by bkt_probe and the budgeted scan's descent walk
    (knn._budget_kernel)."""
    head_rows = spark.read.parquet(f"{path}/centroids").collect()
    live: set[int] = set()
    orphan_rows = []
    for r in head_rows:
        hid = int(r["centroid_id"])
        if (0 <= hid < len(is_leaf) and is_leaf[hid]
                and np.array_equal(
                    np.asarray(r["centroid_vec"], dtype=np.float64),
                    cents[hid])):
            live.add(hid)
        else:
            orphan_rows.append((hid, r["centroid_vec"]))
    orphan_rows.sort(key=lambda t: t[0])
    orphans = None
    if orphan_rows:
        orphans = (
            np.asarray([i for i, _ in orphan_rows], dtype=np.int64),
            np.asarray([[float(x) for x in v] for _, v in orphan_rows],
                       dtype=np.float64),
        )
    return live, orphans


def _descent_walker(parent: np.ndarray, cents: np.ndarray,
                    is_leaf: np.ndarray, live: "set[int]",
                    orphans: "tuple[np.ndarray, np.ndarray] | None"):
    """Factory for the reference's SPTQueue best-first descent
    (BKTree.h:799-865) as a head-ORDER generator: the returned
    `walk(q)` yields (head_id, cosine) — a priority queue over
    (−cosine, node id) seeded with the roots; popping an internal node
    scores+pushes its children, popping a LIVE leaf emits it. This is
    the probe order the budgeted scan rents against a bkt index — the
    tree's own frontier, not a flat global sort, so renting costs
    O(visited·branch) head scores instead of O(C) at large head counts.
    The quantized node/orphan matrices are built ONCE here and shared by
    every walk (one factory per budget kernel, one walk per query).

    `q` is the np_quantize'd query (int64). Node cosines use the
    engine's exact integer matmul + IEEE op order
    (dot / (qnorm · node_norm)), so a live leaf's cosine is
    BIT-IDENTICAL to the flat walk's value for the same head (the flat
    centroid row IS the tree centroid, byte-for-byte, per
    _reconcile_heads). Maintenance-born orphan heads are flat-scored
    once per query and merged into the stream by (cosine DESC, id ASC)
    — the same tiebreak bkt_probe applies."""
    import heapq

    cq = np_quantize(cents)
    cnorm = np.sqrt((cq * cq).sum(axis=1).astype(np.float64))
    children = {n: np.asarray(c, dtype=np.int64)
                for n, c in _children_index(parent).items()}
    roots = np.where(parent < 0)[0].astype(np.int64)
    if orphans is not None:
        oids, omat = orphans
        oq = np_quantize(omat)
        onorm = np.sqrt((oq * oq).sum(axis=1).astype(np.float64))
    else:
        oids = None

    def walk(q: np.ndarray):
        qn = float(np.sqrt(float((q * q).sum())))

        def _cos(nodes: np.ndarray) -> np.ndarray:
            dots = exact_int_matmul(q[None, :], cq[nodes].T)[0]
            return dots / (qn * cnorm[nodes])

        orph: list[tuple[float, int]] = []
        if oids is not None:
            ocos = exact_int_matmul(q[None, :], oq.T)[0] / (qn * onorm)
            orph = sorted(
                ((float(c), int(i)) for c, i in zip(ocos, oids)),
                key=lambda t: (-t[0], t[1]))
        oi = 0
        heap = [(-float(c), int(n)) for c, n in zip(_cos(roots), roots)]
        heapq.heapify(heap)
        while heap:
            negc, nd = heapq.heappop(heap)
            if is_leaf[nd]:
                if nd not in live:
                    continue
                c = -negc
                while oi < len(orph) and (
                        orph[oi][0] > c
                        or (orph[oi][0] == c and orph[oi][1] < nd)):
                    yield orph[oi][1], orph[oi][0]
                    oi += 1
                yield nd, c
            else:
                ch = children[nd]
                for c2, n2 in zip(_cos(ch), ch):
                    heapq.heappush(heap, (-float(c2), int(n2)))
        while oi < len(orph):
            yield orph[oi][1], orph[oi][0]
            oi += 1

    return walk


def bkt_assign(
    corpus: DataFrame,
    parent: np.ndarray,
    cents: np.ndarray,
    is_leaf: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """corpus + bucket (= leaf node id) via vectorized greedy descent:
    per level, rows group by their current node and argmax over that
    node's children — O(depth·branch) dots per row (BKTree.h:799-827)."""
    import pyarrow as pa
    from pyspark.sql.types import LongType

    child_ids = {n: np.asarray(c, dtype=np.int64)
                 for n, c in _children_index(parent).items()}
    child_mats = {n: cents[c] for n, c in child_ids.items()}
    roots = np.where(parent < 0)[0].astype(np.int64)
    root_mat = cents[roots]
    leaf = is_leaf

    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("bucket", LongType())])
    names = [f.name for f in out_schema.fields]

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            if len(X) == 0:
                cur = np.array([], dtype=np.int64)
            else:
                cur = roots[_cos_scores(X, root_mat).argmax(axis=1)]
                active = ~leaf[cur]
                while active.any():
                    for n in np.unique(cur[active]):
                        idx = np.where(active & (cur == n))[0]
                        ids, mat = child_ids[int(n)], child_mats[int(n)]
                        cur[idx] = ids[
                            _cos_scores(X[idx], mat).argmax(axis=1)]
                    active = ~leaf[cur]
            yield pa.RecordBatch.from_arrays(
                [batch.column(nm) for nm in names[:-1]]
                + [pa.array(cur)], names=names)

    return corpus.mapInArrow(run, schema=out_schema)


def _bkt_kernel(
    parent: np.ndarray,
    cents: np.ndarray,
    is_leaf: np.ndarray,
    nprobe: int,
    live_ids: "set[int] | None" = None,
    orphans: "tuple[np.ndarray, np.ndarray] | None" = None,
):
    """Probe kernel (operators/probe.py): per-query best-first descent —
    a priority queue over (−cosine, node id) seeded with the roots;
    popping an internal node scores+pushes its children, popping a leaf
    emits its bucket, until nprobe leaves (the reference's SPTQueue tree
    search, BKTree.h:799-865). The tree rides in the kernel closure —
    the same tiny-head-index assumption as knn._collect_centroids.

    Lifecycle compatibility (the leaf set IS the flat centroid table, so
    ivf_split/merge/append evolve it): `live_ids` restricts emission to
    heads still present in the centroid table (a merged-away leaf keeps
    routing queries but is skipped), and `orphans` = (head ids, head
    matrix) carries maintenance-born heads the tree does not know —
    they are flat-scored per query and merged with the descended leaves
    by (cosine DESC, head id ASC) before the top-nprobe cut. Orphan
    cost is O(n_orphans·dim) per query; a rebuild re-absorbs them into
    the tree (the reference likewise rebuilds its trees at cadence)."""
    import heapq

    from sptag_spark.operators.probe import ProbeKernel

    child_ids = {n: np.asarray(c, dtype=np.int64)
                 for n, c in _children_index(parent).items()}
    child_mats = {n: cents[c] for n, c in child_ids.items()}
    roots = np.where(parent < 0)[0].astype(np.int64)
    root_mat = cents[roots]
    leaf = is_leaf
    orph_ids, orph_mat = (orphans if orphans is not None
                          else (np.array([], dtype=np.int64), None))

    def fn(X):
        orph_cos = (_cos_scores(X, orph_mat)
                    if len(orph_ids) else None)
        rows, out_b = [], []
        for r in range(len(X)):
            x = X[r:r + 1]
            heap = [(-s, int(n)) for s, n in
                    zip(_cos_scores(x, root_mat)[0], roots)]
            heapq.heapify(heap)
            found = []                       # (cos, leaf) descending
            while heap and len(found) < nprobe:
                negs, nd = heapq.heappop(heap)
                if leaf[nd]:
                    if live_ids is None or nd in live_ids:
                        found.append((-negs, nd))
                    continue
                ids, mat = child_ids[nd], child_mats[nd]
                for s, c in zip(_cos_scores(x, mat)[0], ids):
                    heapq.heappush(heap, (-float(s), int(c)))
            if orph_cos is not None:
                merged = sorted(
                    found + [(float(orph_cos[r, j]), int(orph_ids[j]))
                             for j in range(len(orph_ids))],
                    key=lambda t: (-t[0], t[1]))[:nprobe]
            else:
                merged = found
            rows.extend([r] * len(merged))
            out_b.extend(b for _, b in merged)
        return rows, out_b

    return ProbeKernel(fn)


def bkt_build(
    corpus: DataFrame,
    path: str,
    branch: int = 8,
    leaf_max: int = 256,
    max_levels: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 4096,
    coarse_iters: int = 8,
    cell_iters: int = 10,
    root_sample: int = 0,
) -> None:
    """Build and PERSIST the multi-level BKT index: bucketed postings
    (same partitionBy('bucket') layout contract as knn.ivf_build — the
    probe tail, plan assertions, and sinks are shared) + the tree as one
    parquet of (node_id, parent, is_leaf, centroid) + the LEAF SET as a
    flat `centroids` table (centroid_id = leaf node id).

    The flat leaf table is what makes the index lifecycle-compatible:
    ivf_append/ivf_delete/ivf_compact/ivf_split/ivf_merge all operate on
    `centroids` + `postings` and never touch the tree. Probes reconcile
    by VECTOR identity, not id alone: a head counts as a tree leaf only
    if its stored vector equals the tree centroid bit-for-bit (split can
    re-mint a retired leaf's id once merges have lowered
    max(centroid_id)); everything else — split halves, re-minted ids —
    is flat-scored as an orphan (see bkt_probe / _bkt_kernel)."""
    from sptag_spark.operators.knn import _write_index_meta, _write_postings

    spark = corpus.sparkSession
    parent, cents, is_leaf = bkt_fit(
        corpus, branch=branch, leaf_max=leaf_max, max_levels=max_levels,
        id_col=id_col, vec_col=vec_col, fit_sample=fit_sample,
        coarse_iters=coarse_iters, cell_iters=cell_iters,
        root_sample=root_sample)
    bucketed = bkt_assign(corpus, parent, cents, is_leaf, id_col, vec_col)
    _write_postings(bucketed, f"{path}/postings", "overwrite")
    import pandas as pd

    spark.createDataFrame(pd.DataFrame({
        "node_id": np.arange(len(parent), dtype=np.int64),
        "parent": parent,
        "is_leaf": is_leaf,
        "centroid": [list(map(float, c)) for c in cents],
    })).coalesce(1).write.mode("overwrite").parquet(f"{path}/tree")
    leaf_ids = np.where(is_leaf)[0]
    spark.createDataFrame(pd.DataFrame({
        "centroid_id": leaf_ids.astype(np.int64),
        "centroid_vec": [list(map(float, cents[i])) for i in leaf_ids],
    })).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_index_meta(spark, path, index_type="bkt", branch=int(branch),
                      leaf_max=int(leaf_max))


def _read_tree(spark, path: str):
    rows = sorted(spark.read.parquet(f"{path}/tree").collect(),
                  key=lambda r: r["node_id"])
    parent = np.asarray([r["parent"] for r in rows], dtype=np.int64)
    cents = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    is_leaf = np.asarray([r["is_leaf"] for r in rows], dtype=bool)
    return parent, cents, is_leaf


def bkt_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    driver_probe_limit: int = 10_000,
    probe_scratch_dir: str | None = None,
) -> DataFrame:
    """Probe a persisted multi-level BKT index: best-first tree descent
    for nprobe leaf buckets per query, then the SHARED partition-pruned
    scoring tail (operators/probe.py — static-IN or DPP pruning by
    batch size, optional pushed predicate, identical to flat IVF
    probes; `probe_scratch_dir` relocates wave side tables off a
    read-only index).

    Reconciles the tree against the flat `centroids` table so the
    lifecycle ops compose: leaves retired by ivf_merge/ivf_split are
    skipped during descent; heads born after the build (split halves,
    etc.) are flat-scored per query and merged into the probe set."""
    from sptag_spark.operators import probe
    from sptag_spark.operators.knn import read_postings

    parent, cents, is_leaf = _read_tree(spark, path)
    live, orphans = _reconcile_heads(spark, path, cents, is_leaf)
    kernel = _bkt_kernel(parent, cents, is_leaf, nprobe,
                         live_ids=live, orphans=orphans)
    probes = probe.select_probes(spark, path, queries, kernel, id_col,
                                 vec_col, driver_probe_limit,
                                 probe_scratch_dir)
    return probe.score_probes(read_postings(spark, path, id_col), probes,
                              queries, k, id_col, vec_col, predicate)

