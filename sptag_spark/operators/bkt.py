"""Two-level centroid hierarchy — the BKT shape for large head counts.

The reference builds a *tree* of balanced k-means so head selection costs
O(log C) per probe instead of O(C) (BKTree.h:524-865); at 100 TB you want
~10^5 heads and a flat argmin over that many centroids neither compiles
as expressions nor matmuls cheaply. The Spark restatement is two levels
(the regime where C = k1*k2 up to ~10^5, k1,k2 <= ~316 each):

- fit: coarse balanced k-means (operators/kmeans.py — broadcast-argmin
  scans + one agg per iteration), then ONE applyInPandas pass fits k2
  fine centroids inside every coarse cell in parallel (numpy Lloyd per
  cell, deterministic id-ordered init). Total heads = k1 * k2.
- assign: per Arrow batch, greedy descent — cosine argmax over k1 coarse
  heads, then argmax over that cell's k2 fine heads: k1 + k2 dots per
  row instead of k1*k2 (the BKT tree walk, BKTree.h:799-827). Greedy
  descent is approximate exactly the way the reference's tree search is.
- probe: top-p coarse cells per query, score those cells' fine heads,
  global top-nprobe buckets — then the standard partition-pruned
  candidate scan + exact quantized-cosine top-k.

bucket id = coarse_cell * k2 + fine_idx, so the persisted layout is the
same partitionBy('bucket') contract ivf_build writes.
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


def _sampled_cell_fit_src(
    assigned: DataFrame,
    cell_col: str,
    id_col: str,
    vec_col: str,
    fit_sample: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-cell hash sample of a (id, vec, cell) frame:
    keep a row iff xxhash64(id, seed) mod 2^30 < frac_keep(cell)·2^30,
    with frac_keep sized so every cell yields ~fit_sample rows. The
    reference samples its per-node k-means fits the same way
    (BKTree.h:545 m_iSamples); here it also bounds the rows any single
    applyInPandas fit task materializes — the full-cell variant put an
    ENTIRE coarse cell (N/k1 rows) in one pandas task, an OOM at 10^9
    rows. Cells at or under fit_sample pass through whole; if no cell
    is oversized the input returns unchanged (no extra join in tests /
    small corpora)."""
    import pandas as pd

    spark = assigned.sparkSession
    sizes = {int(r[cell_col]): int(r["n"]) for r in
             assigned.groupBy(cell_col)
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    if not any(n > fit_sample for n in sizes.values()):
        return assigned
    m = 1 << 30
    cells = sorted(sizes)
    keep = pd.DataFrame({
        cell_col: pd.array(cells, dtype="int64"),
        "__keep": pd.array(
            [m if sizes[c] <= fit_sample
             else min(m, int(np.ceil(fit_sample / sizes[c] * m)))
             for c in cells], dtype="int64"),
    })
    keep_df = F.broadcast(
        spark.createDataFrame(keep).withColumn(
            cell_col, F.col(cell_col).cast(
                assigned.schema[cell_col].dataType)))
    return (assigned.join(keep_df, cell_col)
            .filter(F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)),
                           F.lit(m)) < F.col("__keep"))
            .drop("__keep"))


def hierarchical_heads_fit(
    df: DataFrame,
    k1: int = 32,
    k2: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_iters: int = 8,
    cell_iters: int = 10,
    fit_sample: int = 4096,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit (coarse (k1, dim), fine (k1, k2, dim)) centroid tiers.

    Cells with fewer than k2 rows pad by repeating their first centroid:
    padded copies tie exactly with the original and argmax's first-index
    rule means they are never selected, so no bucket ids are wasted on
    phantom heads beyond the cell's real count.

    The per-cell Lloyd fit runs on a deterministic hash sample capped at
    `fit_sample` rows per cell (_sampled_cell_fit_src) — a fit task
    never materializes a whole coarse cell. Assignment still descends
    the full corpus."""
    coarse, assigned = kmeans_fit(
        df, k1, id_col=id_col, vec_col=vec_col, iters=coarse_iters
    )
    dim = coarse.shape[1]

    out_schema = StructType([
        StructField("cell", IntegerType()),
        StructField("fine_idx", IntegerType()),
        StructField("n_fine", IntegerType()),
        StructField("centroid", ArrayType(DoubleType())),
    ])
    cap = fit_sample

    def fit_cell(pdf):
        import pandas as pd

        from sptag_spark.operators.pq import _np_kmeans

        pdf = pdf.sort_values(id_col, kind="mergesort").head(cap)
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        kk = min(k2, len(X))
        C = _np_kmeans(X, kk, iters=cell_iters)
        cell = int(pdf["cluster"].iloc[0])
        return pd.DataFrame({
            "cell": [cell] * kk,
            "fine_idx": list(range(kk)),
            "n_fine": [kk] * kk,
            "centroid": [list(map(float, c)) for c in C],
        })

    fit_src = _sampled_cell_fit_src(
        assigned.select(id_col, vec_col, "cluster"),
        "cluster", id_col, vec_col, fit_sample,
    )
    rows = (
        fit_src
        .groupBy("cluster")
        .applyInPandas(fit_cell, schema=out_schema)
        .collect()
    )
    fine = np.zeros((k1, k2, dim))
    n_fine = np.zeros(k1, dtype=np.int64)
    for r in rows:
        fine[r["cell"], r["fine_idx"]] = r["centroid"]
        n_fine[r["cell"]] = r["n_fine"]
    # pad: short cells repeat their fine_idx 0 centroid for the unused
    # slots >= n_fine (explicit count from fit_cell — a legitimately
    # all-zero fine centroid is NOT mistaken for padding); empty cells
    # repeat the coarse centroid (nothing assigns there anyway). Padded
    # copies tie exactly with the original and argmax's first-index rule
    # means they are never selected.
    for c in range(k1):
        base = fine[c, 0] if n_fine[c] > 0 else coarse[c]
        fine[c, n_fine[c]:] = base
    return coarse, fine


def _cos_scores(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Cosine of float64 rows X against centroid rows C (assignment
    metric — internal to head selection, no cross-engine contract)."""
    xn = np.sqrt((X * X).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    cn = np.where(cn == 0, 1.0, cn)
    xn = np.where(xn == 0, 1.0, xn)
    return (X @ C.T) / (xn[:, None] * cn[None, :])


def hierarchical_assign(
    corpus: DataFrame,
    coarse: np.ndarray,
    fine: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """corpus + bucket (= cell * k2 + fine_idx) via greedy two-level
    descent: one (n, k1) + one (n_cell, k2) matmul per Arrow batch."""
    import pyarrow as pa
    from pyspark.sql.types import LongType

    k1, k2, _ = fine.shape
    out_schema = StructType(
        list(corpus.schema.fields) + [StructField("bucket", LongType())]
    )
    out_names = [f.name for f in out_schema.fields]

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            if len(X) == 0:
                buckets = np.array([], dtype=np.int64)
            else:
                cells = _cos_scores(X, coarse).argmax(axis=1)
                buckets = np.empty(len(X), dtype=np.int64)
                for c in np.unique(cells):
                    idx = np.where(cells == c)[0]
                    fi = _cos_scores(X[idx], fine[c]).argmax(axis=1)
                    buckets[idx] = int(c) * k2 + fi
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in out_names[:-1]]
                + [pa.array(buckets)],
                names=out_names,
            )

    return corpus.mapInArrow(run, schema=out_schema)


def _hierarchical_kernel(coarse: np.ndarray, fine: np.ndarray, nprobe: int,
                         coarse_probe: int = 4):
    """Probe kernel (operators/probe.py): top-coarse_probe cells, then
    global top-nprobe among those cells' fine heads."""
    from sptag_spark.operators.probe import ProbeKernel

    k1, k2, _ = fine.shape
    cp = min(coarse_probe, k1)

    def fn(X):
        top_cells = np.argsort(
            -_cos_scores(X, coarse), axis=1, kind="stable"
        )[:, :cp]
        rows, out_b = [], []
        for r in range(len(X)):
            cells = top_cells[r]
            heads = np.concatenate([fine[c] for c in cells])
            ids = np.concatenate(
                [np.arange(k2, dtype=np.int64) + int(c) * k2
                 for c in cells]
            )
            s = _cos_scores(X[r:r + 1], heads)[0]
            order = np.argsort(-s, kind="stable")[:nprobe]
            chosen = np.unique(ids[order])
            rows.extend([r] * len(chosen))
            out_b.extend(chosen.tolist())
        return rows, out_b

    return ProbeKernel(fn)


def ivf_build_hierarchical(
    corpus: DataFrame,
    path: str,
    k1: int = 32,
    k2: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the two-level index: bucketed postings (same layout
    contract as knn.ivf_build) + both centroid tiers as parquet."""
    from sptag_spark.operators.knn import _write_postings

    spark = corpus.sparkSession
    coarse, fine = hierarchical_heads_fit(
        corpus, k1, k2, id_col=id_col, vec_col=vec_col
    )
    bucketed = hierarchical_assign(corpus, coarse, fine, id_col, vec_col)
    _write_postings(bucketed, f"{path}/postings", "overwrite")
    k1_, k2_, dim = fine.shape
    spark.createDataFrame(
        [(int(c), [float(x) for x in coarse[c]]) for c in range(k1_)],
        ["cell", "centroid"],
    ).write.mode("overwrite").parquet(f"{path}/coarse")
    spark.createDataFrame(
        [(int(c), int(j), [float(x) for x in fine[c, j]])
         for c in range(k1_) for j in range(k2_)],
        ["cell", "fine_idx", "centroid"],
    ).write.mode("overwrite").parquet(f"{path}/fine")


# ---------------------------------------------------------------------------
# Multi-level BKT (reference BKTree.h:524-865: trees of ARBITRARY depth;
# VERDICT r4 #6). The two-level functions above stay as the fixed-shape
# fast path; below is the general recursion:
#
# - fit: distributed balanced k-means for the root tier, then per level
#   one applyInPandas pass fits `branch` children inside every cell that
#   still holds > leaf_max rows — on a DETERMINISTIC hash sample capped
#   at fit_sample rows per cell, so a task never materializes a giant
#   cell (the reference samples too: BKTree.h:545 m_iSamples). Cells at
#   or under leaf_max stop splitting — depth is data-adaptive, exactly
#   the reference's uneven recursion.
# - assign: vectorized greedy descent per Arrow batch (cosine argmax
#   level by level) — O(depth·branch) dots per row, the BKT tree walk.
# - probe: per-query BEST-FIRST descent with a priority queue over the
#   (tiny, broadcast) tree — pop the closest node, expand its children,
#   emit leaves until nprobe buckets (BKTree.h:799-865 SearchTrees'
#   m_SPTQueue) — then the shared partition-pruned scoring tail.
# ---------------------------------------------------------------------------


def _assign_node_level(
    df: DataFrame,
    node_ids: np.ndarray,
    node_mat: np.ndarray,
    vec_col: str,
) -> DataFrame:
    """df + __node via one cosine-argmax pass over the given nodes —
    the single-level descent step, shared by bkt_fit's root frontier."""
    import pyarrow as pa
    from pyspark.sql.types import LongType

    schema = StructType(
        list(df.schema.fields) + [StructField("__node", LongType())])
    names = [f.name for f in schema.fields]

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            if len(X) == 0:
                nodes = np.array([], dtype=np.int64)
            else:
                nodes = node_ids[_cos_scores(X, node_mat).argmax(axis=1)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(nm) for nm in names[:-1]]
                + [pa.array(nodes)], names=names)

    return df.mapInArrow(run, schema=schema)


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

    # Root frontier via the SAME cosine-argmax rule bkt_assign descends
    # with (not the k-means L2 labels): fit-time cell contents then equal
    # assign-time cell contents at every level, so the <= leaf_max stop
    # condition is a real bound on the final postings, not an estimate.
    # len(cents), not `branch`: a corpus smaller than the branch factor
    # seeds fewer roots.
    root_ids = np.arange(len(cents), dtype=np.int64)
    root_mat = np.stack(cents)
    frontier = _assign_node_level(
        corpus.select(id_col, vec_col), root_ids, root_mat, vec_col
    ).persist()
    try:
        for level in range(1, max_levels):
            sizes = {r["__node"]: r["n"] for r in
                     frontier.groupBy("__node")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
            to_split = sorted(n for n, c in sizes.items() if c > leaf_max)
            if not to_split:
                break
            # deterministic per-cell sample: keep iff
            # xxhash64(id, level) mod 2^30 < frac·2^30 — expected
            # fit_sample rows per cell without materializing the cell
            m = 1 << 30
            keep = pd.DataFrame({
                "__node": to_split,
                "__keep": [min(m, int(np.ceil(fit_sample / sizes[n] * m)))
                           for n in to_split],
            })
            keep_df = F.broadcast(spark.createDataFrame(keep))
            splitting = frontier.join(keep_df, "__node")
            sample = splitting.filter(
                F.pmod(F.xxhash64(F.col(id_col), F.lit(level)), F.lit(m))
                < F.col("__keep"))

            out_schema = StructType([
                StructField("__node", LongType()),
                StructField("child_idx", IntegerType()),
                StructField("centroid", ArrayType(DoubleType())),
            ])
            bb, ic, vc, iters_, cap = branch, id_col, vec_col, \
                cell_iters, fit_sample

            def fit_cell(pdf):
                from sptag_spark.operators.pq import _np_kmeans

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


def ivf_probe_hierarchical(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 32,
    coarse_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    driver_probe_limit: int = 10_000,
    probe_scratch_dir: str | None = None,
) -> DataFrame:
    """Probe the persisted two-level index: descend the tiers for bucket
    ids, then the SHARED partition-pruned scoring tail
    (operators/probe.py — driver or wave selection by batch size,
    optional pushed metadata predicate)."""
    from sptag_spark.operators import probe
    from sptag_spark.operators.knn import read_postings

    c_rows = spark.read.parquet(f"{path}/coarse").collect()
    f_rows = spark.read.parquet(f"{path}/fine").collect()
    k1 = len(c_rows)
    k2 = max(r["fine_idx"] for r in f_rows) + 1
    dim = len(c_rows[0]["centroid"])
    coarse = np.zeros((k1, dim))
    fine = np.zeros((k1, k2, dim))
    for r in c_rows:
        coarse[r["cell"]] = r["centroid"]
    for r in f_rows:
        fine[r["cell"], r["fine_idx"]] = r["centroid"]

    kernel = _hierarchical_kernel(coarse, fine, nprobe, coarse_probe)
    probes = probe.select_probes(spark, path, queries, kernel, id_col,
                                 vec_col, driver_probe_limit,
                                 probe_scratch_dir)
    return probe.score_probes(read_postings(spark, path, id_col), probes,
                              queries, k, id_col, vec_col, predicate)
