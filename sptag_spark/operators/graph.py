"""k-NN graph construction + RNG pruning — the reference's neighborhood
graph, relationally.

SPTAG builds an N x 32 neighbor graph by scoring all pairs inside TPT
leaves (NeighborhoodGraph.h:328-442) and prunes each adjacency list with
the Relative Neighborhood Graph rule: candidate j (in ascending distance
order) is kept only if no already-accepted neighbor l is closer to j than
the query is (RelativeNeighborhoodGraph.h:18-35) — the rule that keeps
edges *diverse* instead of clustered.

Spark restatement:
- build_knn_graph: blocked exact scoring (one int64 numpy matmul per
  unordered block pair, as in knn.cosine_near_dup_pairs_blocked), but
  each block pair emits only its LOCAL top-k per row — the true global
  top-k is always inside the union of per-block top-k (every true
  neighbor lives in exactly one block) — then ONE window takes the
  global top-k per source. Shuffle volume is O(N * k * n_blocks), never
  O(N^2) — but COMPUTE is still O(N^2 * dim): this is the correctness
  baseline / oracle twin.
- build_knn_graph_tpt: the reference's actual build — per-leaf
  all-pairs over `trees` random-projection trees with mean splits (the
  TPTree pivot rule); O(N * leaf_size * trees * dim) compute, the
  100-TB path. Deterministic (md5-seeded projections, exact integer
  mean splits), hence SQL-oracle-checkable.
- rng_prune: grouped vectorized pass per source row over its (tiny,
  <= k) candidate list — numpy inside applyInPandas, no per-row Python
  at the Spark API.

Distances are quantized-cosine (engine-standard, exact ints + IEEE
float64) so results are reproducible everywhere.
"""

from __future__ import annotations

import math
import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from sptag_spark.functions.vecarrow import exact_int_matmul
from sptag_spark.operators.knn import (
    _with_quantized,
    cosine_from_quantized,
    idot,
    quantize,
)


def build_knn_graph(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = 8,
) -> DataFrame:
    """(src, dst, cosine, rank) — exact top-k neighbors per row.

    Arrow-native blocked scorer (applyInArrow + vecarrow zero-copy
    ingestion, CLAUDE.md rule 15): rows ship as RAW floats and the
    kernel quantizes with vecarrow.np_quantize — half the shuffle bytes
    of pre-quantized longs, no per-row JVM array allocation (rule 13) —
    bit-identical to the expression path. n_blocks=None sizes the block
    count to the cluster (knn.adaptive_n_blocks)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from sptag_spark.operators.knn import (
        _tag_block_pairs,
        adaptive_n_blocks,
    )
    from sptag_spark.functions.vecarrow import list_to_matrix, np_quantize

    if n_blocks is None:
        n_blocks = adaptive_n_blocks(df)
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"))
    tagged = _tag_block_pairs(src, n_blocks)

    out_schema = StructType([
        StructField("src", df.schema[id_col].dataType),
        StructField("dst", df.schema[id_col].dataType),
        StructField("cosine", DoubleType()),
    ])
    arrow_out = to_arrow_schema(out_schema)

    def local_topk(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        def mats(sub):
            ids = sub.column("_id").to_numpy(zero_copy_only=False)
            X = np_quantize(list_to_matrix(sub.column("_e"), np.float64))
            nrm = np.sqrt((X * X).sum(axis=1).astype(np.float64))
            return ids, X, nrm

        def emit(ids_a, cos, ids_b):
            """per row of `ids_a`, all entries >= the row's k-th cosine —
            ties at the boundary are INCLUDED (argpartition alone could
            drop a tied true neighbor; the final global window breaks
            ties on dst id exactly). Non-finite entries (the -inf masked
            diagonal) are dropped: when a row has fewer than k real
            candidates the k-th cosine is -inf and `cos >= kth` would
            otherwise emit the masked self edge as a bogus candidate."""
            kk = min(k, cos.shape[1])
            kth = -np.partition(-cos, kk - 1, axis=1)[:, kk - 1]
            rows, cols = np.where((cos >= kth[:, None]) & np.isfinite(cos))
            keep = ids_a[rows] != ids_b[cols]
            return (ids_a[rows][keep], ids_b[cols][keep],
                    cos[rows, cols][keep])

        def out(parts):
            return pa.Table.from_arrays(
                [pa.array(np.concatenate([p[i] for p in parts]))
                 for i in range(3)],
                schema=arrow_out)

        side = tbl.column("_side")
        both = tbl.filter(pc.equal(side, "B"))
        if both.num_rows:
            ids, X, nrm = mats(both)
            cos = exact_int_matmul(X, X.T) / (nrm[:, None] * nrm[None, :])
            np.fill_diagonal(cos, -np.inf)  # no self edges
            return out([emit(ids, cos, ids)])
        left = tbl.filter(pc.equal(side, "L"))
        right = tbl.filter(pc.equal(side, "R"))
        if not left.num_rows or not right.num_rows:
            return arrow_out.empty_table()
        ids_l, X_l, n_l = mats(left)
        ids_r, X_r, n_r = mats(right)
        cos = exact_int_matmul(X_l, X_r.T) / (n_l[:, None] * n_r[None, :])
        return out([
            emit(ids_l, cos, ids_r),
            emit(ids_r, np.ascontiguousarray(cos.T), ids_l),
        ])

    candidates = tagged.groupBy("_pid").applyInArrow(
        local_topk, schema=out_schema
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def _tpt_weights(
    trees: int, depth: int, dim: int, seed: int = 42
) -> list[list[list[int]]]:
    """Deterministic md5-derived projection weights in [-1000, 1000],
    one dim-length vector per (tree, level) — shared literals between
    the Spark plan and the SQL oracle (the same engine-neutral trick as
    dedup._mh_params). The reference draws its split directions from
    top-variance dims + random coefficients (NeighborhoodGraph.h:
    246-306); md5 seeding replaces the RNG so every engine replays the
    identical forest."""
    import hashlib

    return [
        [
            [
                int.from_bytes(
                    hashlib.md5(
                        f"tpt|{seed}|{t}|{lv}|{i}".encode()
                    ).digest()[:4],
                    "big",
                ) % 2001 - 1000
                for i in range(dim)
            ]
            for lv in range(depth)
        ]
        for t in range(trees)
    ]


def _np_descend(pos, P, lv, depth, node, out):
    """Finish the mean-split descent locally: EXACTLY the distributed
    rule — a row goes right iff its projection exceeds the node's
    integer-floored mean projection (p > floor(sum/count); Python ints,
    so the floor is exact at any magnitude). Writes each row's final
    leaf id into out[pos]."""
    if lv == depth or len(pos) == 0:
        out[pos] = node
        return
    p = P[:, lv]
    m = int(p.sum(dtype=np.int64)) // len(p)
    right = p > m
    left = ~right
    _np_descend(pos[left], P[left], lv + 1, depth, node * 2, out)
    _np_descend(pos[right], P[right], lv + 1, depth, node * 2 + 1, out)


# one-slot-per-SparkSession cache registry for _tpt_stage's
# exploded-projection persist (see the comment at the persist site).
# Keyed by session so concurrent builds in DIFFERENT sessions never
# evict each other; the lock keeps pop/insert races from leaking a
# persist. Within one session the documented assumption stands: builds
# run one at a time (a second build evicts the first's cache, so a
# caller holding an unmaterialized lazy plan from a prior build must
# materialize it first).
# WeakKeyDictionary: a stopped/dropped session's slot (and its pinned
# persist metadata) is reclaimed with the session object instead of
# accumulating one dead entry per session in a long-lived process
# (ADVICE r6).
_STAGE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_STAGE_LOCK = threading.Lock()

# corpora at or under this row count broadcast their vector sides in
# refine_knn_graph's re-rank joins (~128 MB of raw floats at dim 64)
_BCAST_JOIN_ROWS = 500_000


def _tpt_stage(
    df: DataFrame,
    trees: int,
    depth: int,
    id_col: str,
    vec_col: str,
    seed: int,
    local_chunk: int,
    n_rows: int | None = None,
    dim: int | None = None,
):
    """Shared TPT pipeline front: BLAS projections + the first
    `global_levels` MEAN splits as broadcast-stats rounds, leaving
    nodes of <= local_chunk rows for a grouped Arrow kernel to finish.

    Returns (staged_df, global_levels): staged_df is NARROW —
    (_id, tree, node, _pw remaining-projections array).

    Two measured scale lessons are baked into this shape:
    (1) the embedding NEVER rides a routing shuffle (a 64-dim float
    vector is ~10x the routing payload; carrying it through the split
    stages measured 0.38 N->4N at 1M rows); vectors join back by id
    exactly once, after the leaf is known.
    (2) splits are at the node MEAN (the reference TPTree pivot,
    NeighborhoodGraph.h:246-326), NOT the median-rank: a rank needs a
    per-node sort, and a window over (tree, node) at the early levels
    has only trees*2^lv distinct keys — the level-0 sort ran as ONE
    task per tree regardless of cluster size (measured: 3 tasks
    holding 63 core-seconds at 8 cores). The mean needs only a tiny
    map-side-combinable aggregate broadcast back — zero data movement
    per level at ANY node size, the difference between a plan that
    parallelizes at 100 TB and one that bottlenecks on log2(N) giant
    sorts.

    The T*depth exact projections are ONE (n, dim) x (dim, T*depth)
    integer BLAS matmul per Arrow batch (the JVM expression form
    re-inlined quantize into every interpreted aggregate — 21
    evaluations/row); each split level drops its consumed projection
    column, so rows narrow as they descend."""
    import pyarrow as pa

    from sptag_spark.functions.vecarrow import (
        exact_int_matmul,
        list_to_matrix,
        np_quantize,
    )

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    W = _tpt_weights(trees, depth, dim, seed)
    # (dim, trees*depth) weight matrix, column t*depth+lv
    Wmat = np.array(
        [W[t][lv] for t in range(trees) for lv in range(depth)],
        dtype=np.int64,
    ).T
    if n_rows is None:
        n_rows = df.count()
    window_levels = min(
        depth, max(0, math.ceil(math.log2(max(n_rows, 1) / local_chunk)))
    ) if n_rows > local_chunk else 0

    id_type = df.schema[id_col].dataType.simpleString()
    pcols = [f"_p_{t}_{lv}" for t in range(trees) for lv in range(depth)]
    out_ddl = f"_id {id_type}, " + ", ".join(f"{c} long" for c in pcols)

    def proj_kernel(batches):
        for batch in batches:
            X = np_quantize(list_to_matrix(batch.column("_v"), np.float64))
            if len(X) == 0 or X.shape[1] == 0:
                P = np.zeros((batch.num_rows, Wmat.shape[1]), np.int64)
            else:
                P = exact_int_matmul(X, Wmat)
            yield pa.record_batch(
                [batch.column("_id")]
                + [pa.array(P[:, j], pa.int64())
                   for j in range(Wmat.shape[1])],
                names=["_id"] + pcols,
            )

    src = df.select(F.col(id_col).alias("_id"),
                    F.col(vec_col).alias("_v"))
    projs = src.mapInArrow(proj_kernel, schema=out_ddl)
    cur = projs.select(
        "_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("tree"),
                *[F.col(f"_p_{t}_{lv}").alias(f"_p{lv}")
                  for lv in range(depth)],
            )
            for t in range(trees)
        ])).alias("_t"),
    ).select(
        "_id", "_t.tree", *[f"_t._p{lv}" for lv in range(depth)]
    ).withColumn("node", F.lit(0))
    if window_levels:
        # The cache serves the per-level stats subtrees of the CALLER'S
        # eventual action, so it cannot unpersist here (the plan is
        # lazy). A one-slot-per-session registry evicts the previous
        # build's cache instead: repeated builds in one session pin at
        # most ONE N*trees-row frame rather than accumulating one per
        # call.
        sess = df.sparkSession
        with _STAGE_LOCK:
            prev = _STAGE_CACHE.pop(sess, None)
        if prev is not None:
            prev.unpersist()
        cur = cur.persist()
        with _STAGE_LOCK:
            _STAGE_CACHE[sess] = cur
    for lv in range(window_levels):
        # mean split, zero data shuffle: the per-node stats are a tiny
        # map-side-combinable aggregate (<= trees * 2^lv rows) joined
        # back as a BROADCAST — the big side keeps its partitioning.
        # The exact integer floor(mean) uses pmod, never float division
        # (psum - pmod(psum, cnt) is divisible by cnt, and div is then
        # exact at any magnitude); row goes right iff p > floor(mean),
        # which equals the oracle's multiply form p * cnt > psum.
        # decimal(38,0) sum: |p| can reach dim*1000*|q| ~ 6e7, so an
        # int64 sum overflows once a node spans ~1.4e11 rows — exactly
        # the level-0 node at the 100-TB design point. The decimal agg
        # is exact to 1e38, the pmod/div floor stays value-identical
        # (verified incl. negative sums), and _m comes back as long.
        stats = (
            cur.groupBy("tree", "node")
            .agg(F.sum(F.col(f"_p{lv}").cast("decimal(38,0)"))
                 .alias("_ps"),
                 F.count(F.lit(1)).alias("_pc"))
            .withColumn(
                "_m",
                F.expr("CAST((_ps - pmod(_ps, _pc)) div _pc AS LONG)"))
            .select("tree", "node", "_m")
        )
        cur = (
            cur.join(F.broadcast(stats), ["tree", "node"])
            .withColumn(
                "node",
                F.col("node") * 2
                + (F.col(f"_p{lv}") > F.col("_m")).cast("int"),
            )
            .drop("_m", f"_p{lv}")
        )
    rest = [f"_p{lv}" for lv in range(window_levels, depth)]
    staged = cur.select(
        "_id", "tree", "node",
        F.array(*rest).alias("_pw") if rest
        else F.array().cast("array<long>").alias("_pw"),
    )
    return staged, window_levels


def tpt_leaf_assign(
    df: DataFrame,
    trees: int = 3,
    depth: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    local_chunk: int = 131_072,
) -> DataFrame:
    """(_id, tree, leaf): balanced random-projection-tree leaves, one
    per tree — the reference's TPT partition step (TruthSet/TPTree
    splits, NeighborhoodGraph.h:178-326) restated as depth MEAN
    splits.

    Level lv splits every node at its mean projection: a row goes
    right iff p > floor(mean(p) over the node) — exact integer
    arithmetic, so both engines replay it bit-identically. Mean splits
    keep trees near-balanced on real data (random projections of
    clustered vectors are ~symmetric); a node whose projections are
    all identical stops splitting (oversized leaf — the leaf kernel
    row-chunks its matmul so memory stays bounded either way). Only
    the levels with nodes bigger than `local_chunk` run as
    broadcast-stats rounds; the rest of the descent happens inside a
    grouped Arrow kernel with the identical rule — see _tpt_stage."""
    staged, wl = _tpt_stage(df, trees, depth, id_col, vec_col, seed,
                            local_chunk)
    return _finish_assign(staged, depth - wl, df.schema[id_col].dataType,
                          n_groups=trees * (1 << wl))


def _finish_assign(staged: DataFrame, rem: int, id_dtype,
                   n_groups: int | None = None) -> DataFrame:
    """Grouped Arrow kernel finishing the last `rem` descent levels
    locally (identical mean-split rule to the global rounds) over the
    narrow staged rows; returns (_id, tree, leaf).

    `n_groups` = trees * 2^global_levels, the exact (tree, node) group
    count. The descent groups are FEW and near-equal-sized, so hashing
    them into 2*cores shuffle partitions collides several groups into
    one task while others idle (measured 0.54 N->4N at 1M rows).
    Spreading the exchange over ~8x the group count makes multi-group
    tasks rare — applyInArrow only needs the keys CLUSTERED, any hash
    partition count satisfies that, so no second exchange appears."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if n_groups:
        staged = staged.repartition(min(8 * n_groups, 4096),
                                    "tree", "node")

    out_schema = StructType([
        StructField("_id", id_dtype),
        StructField("tree", IntegerType()),
        StructField("leaf", IntegerType()),
    ])
    arrow_out = to_arrow_schema(out_schema)

    def finish(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        if n == 0:
            return arrow_out.empty_table()
        tree = tbl.column("tree")[0].as_py()
        node = tbl.column("node")[0].as_py()
        ids = tbl.column("_id").to_numpy(zero_copy_only=False)
        if rem:
            from sptag_spark.functions.vecarrow import list_to_matrix

            P = list_to_matrix(tbl.column("_pw"), np.int64)
            leaf = np.empty(n, dtype=np.int64)
            _np_descend(np.arange(n), P, 0, rem, node, leaf)
        else:
            leaf = np.full(n, node, dtype=np.int64)
        return pa.Table.from_arrays(
            [pa.array(ids),
             pa.array(np.full(n, tree, np.int32), pa.int32()),
             pa.array(leaf.astype(np.int32), pa.int32())],
            schema=arrow_out,
        )

    return staged.groupBy("tree", "node").applyInArrow(
        finish, schema=out_schema
    ).select("_id", "tree", F.col("leaf").cast("int").alias("leaf"))


def build_knn_graph_tpt(
    df: DataFrame,
    k: int = 8,
    trees: int = 3,
    depth: int | None = None,
    leaf_size: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(src, dst, cosine, rank) — APPROXIMATE top-k neighbors per row
    via per-leaf all-pairs over `trees` random-projection trees — the
    reference's actual graph-build algorithm (NeighborhoodGraph.h:
    328-442: all-pairs only within <=leaf_size TPT leaves, unioned over
    m_iTPTNumber trees, then per-src top-k), vs build_knn_graph's exact
    O(N^2)-compute baseline.

    Total compute is O(N * leaf_size * trees * dim) — linear in N for
    fixed leaf size — and each leaf's matmul is bounded at
    leaf_size^2 * 8 bytes, so the build survives a 100x scale-up where
    the exact build cannot. Recall comes from tree diversity (distinct
    md5-seeded projections per tree); the exact path remains the
    correctness oracle twin, as in the dedup family.

    Deterministic end-to-end (md5 weights, exact integer mean splits),
    so a SQL oracle replays it bit-identically. `depth` defaults to
    log2(count/leaf_size).

    Plan shape (the 100x story): one corpus scan -> Arrow BLAS
    projections -> log2(N/chunk) ZERO-SHUFFLE mean-split rounds (tiny
    broadcast stats; see _tpt_stage for why not rank/median windows)
    -> one narrow (tree, node) exchange + local descent -> one id join
    puts vectors on leaf-assigned rows -> per-(tree, leaf) kernel
    groups (N/leaf_size * trees of them — thousands-way parallel, one
    row-chunked bounded matmul each) -> one hash(src) exchange serving
    both the cross-tree dedup and the ranking window."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from sptag_spark.functions.vecarrow import (
        exact_int_matmul as _eim,
        list_to_matrix,
        np_quantize,
    )
    from sptag_spark.session import shuffle_parts

    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("dim"),
    ).first()
    n_rows, dim = stats["n"], stats["dim"]
    if depth is None:
        depth = max(1, math.ceil(math.log2(max(n_rows, 2) / leaf_size)))
    staged, wl = _tpt_stage(df, trees, depth, id_col, vec_col, seed,
                            131_072, n_rows=n_rows, dim=dim)
    assign = _finish_assign(staged, depth - wl, df.schema[id_col].dataType,
                            n_groups=trees * (1 << wl))
    # SHUFFLE_HASH: the vector side is the WIDE side — a sort-merge
    # join would sort ~vec_bytes*N; hash-joining the narrow assignment
    # against it skips both sorts (the join is 1:trees, never skewed)
    enriched = assign.join(
        df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).alias("_v")).hint("shuffle_hash"),
        "_id",
    )

    out_schema = StructType([
        StructField("src", df.schema[id_col].dataType),
        StructField("dst", df.schema[id_col].dataType),
        StructField("cosine", DoubleType()),
    ])
    arrow_out = to_arrow_schema(out_schema)

    def leaf_topk(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        if n < 2:
            return arrow_out.empty_table()
        ids_raw = tbl.column("_id").to_numpy(zero_copy_only=False)
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        X = np_quantize(
            list_to_matrix(tbl.column("_v"), np.float64))[order]
        nrm = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        # row-chunked scoring: the cos block stays <= ~64 MB however
        # big the leaf is (mean splits can leave an oversized leaf on
        # degenerate data), and the chunk working set stays cache-
        # resident on healthy leaves (CLAUDE.md rule 18)
        cb = max(1, min(2048, (64 << 20) // max(8 * n, 1)))
        out_s, out_d, out_c = [], [], []
        kk = min(k, n)
        for c0 in range(0, n, cb):
            c1 = min(c0 + cb, n)
            cos = _eim(X[c0:c1], X.T) / (
                nrm[c0:c1, None] * nrm[None, :])
            cos[np.arange(c1 - c0), np.arange(c0, c1)] = -np.inf
            # ties at the k-th boundary are INCLUDED (argpartition
            # alone could drop a tied true neighbor; the global window
            # breaks ties on dst exactly) — build_knn_graph.emit rule
            kth = -np.partition(-cos, kk - 1, axis=1)[:, kk - 1]
            rows, cols = np.where((cos >= kth[:, None])
                                  & np.isfinite(cos))
            out_s.append(ids[rows + c0])
            out_d.append(ids[cols])
            out_c.append(cos[rows, cols])
        return pa.Table.from_arrays(
            [pa.array(np.concatenate(out_s)),
             pa.array(np.concatenate(out_d)),
             pa.array(np.concatenate(out_c))],
            schema=arrow_out,
        )

    candidates = enriched.groupBy("tree", "leaf").applyInArrow(
        leaf_topk, schema=out_schema
    )
    # one exchange serves both the cross-tree dedup AND the per-src
    # window: hash(src) clusters (src, dst) groups too (CLAUDE.md rule
    # 17 — subset clustering). max(cosine) is a no-op merge: the exact
    # cosine is identical in every tree that scored the pair.
    deduped = (
        candidates.repartition(shuffle_parts(df.sparkSession), "src")
        .groupBy("src", "dst")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cosine",
                F.col("rank").cast("int").alias("rank"))
    )


def refine_knn_graph(
    graph: DataFrame,
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_reverse: bool = True,
    score_unordered: bool = False,
) -> DataFrame:
    """Graph refinement — the reference's RefineGraph pass
    (NeighborhoodGraph.h:444-465 runs it after the TPT init; loop at
    :597-677; default m_iRefineIter=2 at :46). Each node re-searches its
    neighborhood through the CURRENT graph and re-ranks: candidates =
    own neighbors UNION neighbors-of-neighbors, scored exactly, top-k
    kept. Tree diversity seeds the graph; refinement is what closes the
    recall gap (the reference's own reason the pass exists).

    Relational restatement, per iteration:
    1. base = current edges, plus their REVERSALS when include_reverse
       (default — the reference's queue-driven re-search reaches nodes
       that point AT the query too; measured +0.04 recall over forward-
       only at equal iterations on the contract corpus).
    2. expansion: self-join the NARROW base edge list on a.dst = b.src
       — ids only, never vectors. Forward-only (include_reverse=False)
       the volume is EXACTLY N*k^2 pairs; with reversals a node's base
       out-degree is k + its indegree, so the volume is
       sum_v outdeg(v)^2 — ~4*N*k^2 in expectation on a degree-regular
       graph, with a hub tail bounded by max-indegree^2 per node
       (measured at 1M clustered vectors, k=8: indegree p99.9 = 89,
       max = 310, 350M pairs/iteration vs the 256M regular-graph
       figure). Compose rebalance_indegree (A11) first on hub-heavy
       graphs, or run forward-only for ~5x less volume at ~-0.04
       recall.
    3. candidates = expansion UNION base, src <> dst, distinct. With
       reversals the candidate set is SYMMETRIC (base is
       edges ∪ reverse(edges); any expansion path s→v→d reverses to
       d→v→s) and cosine is symmetric, so `score_unordered=True` dedups
       scoring to UNORDERED pairs (least/greatest canonicalization) and
       mirrors after the kernel — the wide vector exchange carries HALF
       the rows. Values are bit-identical either way; it is a knob, not
       the default, because the win is disk bytes in the spill-bound
       regime (measured: ~3% wall at 120k rows where the exchange fits
       memory, vs +1.5 s fixed cost at 2k rows from one extra narrow
       exchange + losing the window's clustering reuse). Turn it on
       when N*k^2*dim*4 bytes approaches shuffle-spill territory.
    4. exact re-rank: join RAW float vectors onto both endpoints
       (shuffle-hash — the candidate side is wide after the first
       vector join; never sort it), then ONE Arrow kernel quantizes
       in-process (np_quantize, bit-identical to the JVM expression)
       and computes the row-wise integer dot products (O(rows*dim)
       numpy, exact in int64: |q| <= ~1e7 so a 64-dim dot < 2^63; no
       interpreted per-row HOF in the hot path, and half the shuffle
       bytes of shipping pre-quantized longs + norms).
    5. per-src top-k window (ties broken on dst — engine-standard).
    6. the iteration's ranked edges are materialized with an EAGER
       localCheckpoint before feeding the next round: `edges` is
       referenced three times per iteration (both sides of the
       expansion self-join + the union), so a lazy chain replicates the
       previous iteration's whole plan — TPT build included — ~3x per
       round (measured: the 2-iteration contract query dropped 9.9 s →
       ~3 s at sf0.1 with the checkpoint). The reference likewise
       stores the graph between RefineGraph rounds
       (m_pNeighborhoodGraph is updated in place). N*k edge rows of
       ids+cosine per round — tiny next to any recompute.

    Deterministic end-to-end, so a SQL oracle replays it bit-identically
    (contract query `knn_graph_refined`). Compose `rng_prune` after the
    final iteration for the reference's full RebuildNeighbors semantics.

    100x story: every shuffle in the loop carries O(N*k^2) rows, and
    exactly ONE of them is wide (the candidate frame crosses one
    exchange carrying the dst vector; the src join lands last so the
    window reuses its clustering); compute is O(N*k^2*dim) per
    iteration — linear in N and embarrassingly parallel. The honest
    cost at scale is that wide exchange: ~N*k^2*(dim*4B) shuffle bytes
    per iteration (measured: the single-host 1M-row x k=8 x dim=64
    run spills ~80 GB per refine iteration). When that bound is the
    bottleneck, the measured-cheaper recall knob in this engine is MORE
    TREES, not refinement — see BENCH.md 'trees vs refine' (trees=32
    reaches sampled recall 1.0 at 1M rows for ~2x the trees=4 build
    cost, while two refine rounds cost ~8x and reach 0.981)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from sptag_spark.functions.vecarrow import list_to_matrix, np_quantize

    # the between-iteration checkpoint coalesce (below) right-sizes
    # partition counts from the row count; one metadata-cheap count
    # buys ~2 s/iteration of empty-task overhead at bench scale
    n_rows = df.count() if iters > 1 else None

    # RAW float vectors ride the candidate joins; quantization happens
    # inside the Arrow kernel (np_quantize — bit-identical to the JVM
    # expression, CLAUDE.md rule 13): array<float> is half the shuffle
    # bytes of a pre-quantized long array, and the norm columns drop
    # out entirely (recomputed exactly from the ints in-kernel). The
    # wide candidate shuffle IS the refine pass's cost at scale.
    src_side = df.select(F.col(id_col).alias("src"),
                         F.col(vec_col).alias("_se"))
    dst_side = df.select(F.col(id_col).alias("dst"),
                         F.col(vec_col).alias("_de"))

    out_schema = StructType([
        StructField("src", graph.schema["src"].dataType),
        StructField("dst", graph.schema["dst"].dataType),
        StructField("cosine", DoubleType()),
    ])
    arrow_out = to_arrow_schema(out_schema)

    def dot_kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            Xs = np_quantize(list_to_matrix(batch.column("_se"),
                                            np.float64))
            Xd = np_quantize(list_to_matrix(batch.column("_de"),
                                            np.float64))
            dots = np.einsum("ij,ij->i", Xs, Xd)
            sn = np.einsum("ij,ij->i", Xs, Xs)
            dn = np.einsum("ij,ij->i", Xd, Xd)
            cos = dots.astype(np.float64) / (
                np.sqrt(sn.astype(np.float64))
                * np.sqrt(dn.astype(np.float64)))
            yield pa.record_batch(
                [batch.column("src"), batch.column("dst"),
                 pa.array(cos, pa.float64())],
                schema=arrow_out,
            )

    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    edges = graph.select("src", "dst")
    for it in range(iters):
        base = edges
        if include_reverse:
            base = base.unionByName(
                edges.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
        expansion = base.join(
            base.select(F.col("src").alias("dst"),
                        F.col("dst").alias("_d2")),
            "dst",
        ).select("src", F.col("_d2").alias("dst"))
        cand = (
            base.unionByName(expansion)
            .filter(F.col("src") != F.col("dst"))
        )
        dtype = graph.schema["src"].dataType.simpleString()
        if include_reverse and score_unordered:
            # With reversals the candidate set is SYMMETRIC as a set of
            # ordered pairs (base is edges ∪ reverse(edges); for any
            # expansion path s→v→d through base, the reversed path
            # d→v→s also exists), and cosine is symmetric — so score
            # each UNORDERED pair once and mirror afterwards: the wide
            # vector exchange, the pass's dominant cost at scale,
            # carries HALF the rows. One exchange serves the canonical
            # dedup AND the b-side join (rule 17); the mirror union is
            # free; the top-k window re-shuffles only the narrow
            # (src, dst, cosine) frame.
            canon = (
                cand.select(
                    F.least("src", "dst").alias("_a"),
                    F.greatest("src", "dst").alias("_b"))
                .repartition("_b")
                .dropDuplicates(["_a", "_b"])
            )
            pairs = (
                canon
                .join(dst_side.hint("shuffle_hash"),
                      canon["_b"] == dst_side["dst"])
                .join(src_side.hint("shuffle_hash"),
                      canon["_a"] == src_side["src"])
                .select("src", "dst", "_se", "_de")
            )
            half = pairs.mapInArrow(
                dot_kernel, schema=f"src {dtype}, dst {dtype}, "
                                   "cosine double")
            scored = half.unionByName(
                half.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst"), "cosine"))
        else:
            # ordered-pair scoring (default; forward-only candidates
            # are never symmetric, so it is also the only valid path
            # there). One exchange serves dedup AND the dst-side join
            # (rule 17); joining src LAST leaves the kernel output
            # clustered by src, so the top-k window adds NO exchange.
            #
            # When the corpus is provably small (n_rows known and under
            # ~500k rows ≈ 128 MB of raw floats at dim 64), BROADCAST
            # the vector sides instead of shuffle-hash: the src join
            # otherwise re-exchanges the candidate frame WIDE (dst
            # vector attached — the pass's dominant shuffle); with
            # broadcasts no candidate row ever crosses an exchange
            # carrying a vector. Past the bound (or unknown size) the
            # shuffle-hash plan remains — broadcasting an unbounded
            # corpus is exactly the wrong 100-TB move.
            small = n_rows is not None and n_rows <= _BCAST_JOIN_ROWS
            cand = cand.repartition("dst") \
                .dropDuplicates(["src", "dst"])
            dstj = F.broadcast(dst_side) if small \
                else dst_side.hint("shuffle_hash")
            srcj = F.broadcast(src_side) if small \
                else src_side.hint("shuffle_hash")
            pairs = (
                cand.join(dstj, "dst")
                .join(srcj, "src")
                .select("src", "dst", "_se", "_de")
            )
            scored = pairs.mapInArrow(
                dot_kernel, schema=f"src {dtype}, dst {dtype}, "
                                   "cosine double")
        ranked = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        if it < iters - 1:
            # materialize BETWEEN iterations only: the next round
            # references these edges three times (see step 6); the
            # FINAL frame is consumed once by the caller, so an eager
            # checkpoint there would be a wasted materialize+re-read.
            #
            # Right-size the checkpoint's partition count to its ~N*k
            # ROWS (guide §2.2): the window leaves 2x-shuffle-partition
            # layouts whose near-empty partitions then cost a fixed
            # ~250 ms task apiece in EVERY downstream stage of the next
            # iteration (the expansion self-join reads this frame
            # twice) — measured 3.5 s -> 1.3 s per iteration at 240k
            # edges just from collapsing 128 task stubs to 8.
            if n_rows:
                from sptag_spark.session import shuffle_parts

                parts = max(1, min(shuffle_parts(df.sparkSession),
                                   (n_rows * k) // 20_000 + 1))
                ranked = ranked.coalesce(parts)
            ranked = ranked.localCheckpoint(eager=True)
        edges = ranked.select("src", "dst")
    return ranked.select(
        "src", "dst", "cosine", F.col("rank").cast("int").alias("rank")
    )


def rebalance_indegree(
    candidates: DataFrame,
    k: int,
    max_indegree: int | None = None,
) -> DataFrame:
    """Indegree-aware edge selection (reference A11: NeighborhoodGraph.h
    :486-594 counts fan-in and rewrites out-edges toward low-indegree
    targets so no node hubs the graph).

    `candidates` is a WIDER candidate list than the final degree — e.g.
    build_knn_graph(k=2k) — with (src, dst, cosine, rank). One stats
    pass measures each dst's indegree over the top-k prefix (what the
    naive graph would produce); each src then re-selects its k out-edges
    preferring, in rank order, candidates whose naive fan-in is within
    max_indegree (default 2x the average = 2k), topping up with the
    remaining best-ranked candidates when too few targets are cold.
    Quality is bounded: every chosen edge still comes from the src's own
    candidate list in rank order.

    Distributed shape: indegree = one agg over the top-k prefix; the
    re-selection is a per-src grouped numpy pass (applyInPandas).
    Returns (src, dst, cosine, rank) with rank 1..k per src.
    """
    if max_indegree is None:
        max_indegree = 2 * k
    naive = candidates.filter(F.col("rank") <= k)
    indeg = naive.groupBy("dst").agg(F.count(F.lit(1)).alias("_indeg"))
    enriched = candidates.join(indeg, "dst", "left").fillna(
        {"_indeg": 0}
    )

    out_schema = StructType([
        StructField("src", candidates.schema["src"].dataType),
        StructField("dst", candidates.schema["dst"].dataType),
        StructField("cosine", DoubleType()),
        StructField("rank", LongType()),
    ])
    cap = int(max_indegree)

    def reselect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rank", "dst"], kind="mergesort")
        cold = pdf[pdf["_indeg"] <= cap]
        chosen = cold.head(k)
        if len(chosen) < k:
            rest = pdf[~pdf.index.isin(chosen.index)]
            chosen = pd.concat([chosen, rest.head(k - len(chosen))])
        chosen = chosen.sort_values(["cosine", "dst"],
                                    ascending=[False, True],
                                    kind="mergesort")
        return pd.DataFrame({
            "src": chosen["src"].to_numpy(),
            "dst": chosen["dst"].to_numpy(),
            "cosine": chosen["cosine"].to_numpy(),
            "rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
        })

    return enriched.groupBy("src").applyInPandas(reselect, schema=out_schema)


def rng_prune(
    graph: DataFrame,
    df: DataFrame,
    max_degree: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Relative-neighborhood pruning of a knn graph: walk each source's
    candidates in ascending distance (descending cosine); accept j unless
    some accepted l has cosine(l, j) > cosine(src, j) (l 'occludes' j).
    Returns (src, dst, cosine, rng_rank) with <= max_degree edges/src."""
    qv = _with_quantized(df, id_col, vec_col).select(
        F.col("_id").alias("dst"), F.col("_q").alias("_dq"),
        F.col("_norm").alias("_dnorm"),
    )
    enriched = graph.join(qv, "dst")

    out_schema = StructType([
        StructField("src", graph.schema["src"].dataType),
        StructField("dst", graph.schema["dst"].dataType),
        StructField("cosine", DoubleType()),
        StructField("rng_rank", LongType()),
    ])

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cosine", "dst"], ascending=[False, True])
        X = np.array(pdf["_dq"].tolist(), dtype=np.int64)
        nrm = np.sqrt(pdf["_dnorm"].to_numpy(dtype=np.float64))
        cos_qj = pdf["cosine"].to_numpy()
        accepted: list[int] = []
        for j in range(len(pdf)):
            if len(accepted) >= max_degree:
                break
            ok = True
            for l in accepted:
                cos_lj = float(X[l] @ X[j]) / (nrm[l] * nrm[j])
                if cos_lj > cos_qj[j]:
                    ok = False
                    break
            if ok:
                accepted.append(j)
        sel = pdf.iloc[accepted]
        return pd.DataFrame({
            "src": sel["src"].to_numpy(),
            "dst": sel["dst"].to_numpy(),
            "cosine": sel["cosine"].to_numpy(),
            "rng_rank": np.arange(1, len(sel) + 1, dtype=np.int64),
        })

    return enriched.groupBy("src").applyInPandas(prune, schema=out_schema)


def graph_beam_search(
    graph: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 8,
    rounds: int = 2,
    n_seeds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
    undirected: bool = True,
    small_wave: bool | None = None,
    small_wave_limit: int = 10_000,
) -> DataFrame:
    """Greedy beam search over a kNN graph — the reference's in-memory
    query path (BKTIndex.cpp SearchIndex: seed candidates from the tree,
    then walk NeighborhoodGraph adjacency best-first up to m_iMaxCheck;
    queue at SPTAG's WorkSpace m_NGQueue). Batch-relational restatement:

    - seeds: a FIXED deterministic node set shared by every query —
      lowest md5(id) order (cross-engine replicable), the standalone
      stand-in for the reference's tree-descent seeds; pass `seeds`
      (query_id, node) to compose with an ANN index instead.
    - round: the frontier is the per-query top-`beam` of VISITED,
      NOT-YET-EXPANDED nodes (exactly the reference's priority queue:
      pop the best unexpanded candidates); it joins the edge list on
      src, producing neighbor candidates; nodes already visited by that
      query are anti-joined away; survivors are scored EXACTLY
      (quantized-int dot via JVM expressions — the node-vector join is
      the only wide exchange per round) and merged into the visited
      set.
    - result: top-k per query over ALL visited nodes (seeds included),
      (cosine DESC, id ASC) tiebreak, with a `hops` column recording
      the round each node was reached in (0 = seed).

    Fixed `rounds` (not convergence-tested) keeps the operator
    deterministic and SQL-oracle-replicable: each round unrolls to two
    CTEs (expand, rank). Volume: nq * beam * out_degree candidate rows
    per round, all narrow except the node-vector join; no driver
    round-trips.

    `undirected` (default) walks each edge in BOTH directions —
    reverse edges roughly halve the rounds a greedy walk needs to
    navigate from fixed seeds (measured on the 500-row contract
    corpus, k=6 graph, beam=8: full recall at rounds>=4 undirected vs
    rounds>=6 directed). The reference gets its navigability from
    denser adjacency (k=32) plus query-aware tree seeds; pass `seeds`
    from an index probe to reproduce that composition.

    100x story: every exchange is keyed by query_id or node id — a
    1M-query wave fans into ordinary hash joins; the graph side is
    amortized across the wave (one scan per round).

    `small_wave` (None = auto: queries <= small_wave_limit, decided
    with a limit-bounded count) plans the per-round joins for a SMALL
    query batch — the interactive serve shape: the frontier/visited/
    candidate frames are a few thousand rows at most, but they descend
    from localCheckpoints whose size statistics are UNKNOWN (a
    checkpointed LogicalRDD defaults to "huge"), so without hints every
    tiny join — frontier x edges, the visited anti-joins, candidate
    scoring against the node table — plans as a full shuffle join and
    the walk becomes per-round fixed exchange cost (measured: 7.5 s for
    a rounds=2 / 8-query walk over a 20k-node graph whose actual data
    fits in one task). Explicit broadcasts of the query-derived sides
    remove every per-round exchange over the graph and node tables
    (guide §3.1: broadcast the side you KNOW is small — the optimizer
    cannot). Large waves keep the shuffle plan (query-side frames grow
    with the wave and must not be broadcast)."""
    edges = graph.select("src", "dst")
    if undirected:
        edges = edges.unionByName(
            graph.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    # Materialize the edge list ONCE: every round's neighbor join and
    # every materialization references `edges`; the checkpoint pins the
    # undirected union+dedup (and any lazy caller build) to one
    # execution instead of relying on cross-job shuffle-stage reuse,
    # and caps plan growth across rounds. E rows of two ids — tiny.
    if small_wave is None:
        small_wave = (
            queries.limit(small_wave_limit + 1).count() <= small_wave_limit
        )
    if small_wave:
        # a union+dedup leaves a 2x-shuffle-partition layout; every
        # near-empty partition costs a fixed per-task overhead in every
        # round's edge join (guide §2.2) — collapse before pinning
        edges = edges.coalesce(16)
    edges = edges.localCheckpoint(eager=True)

    def bq(df: DataFrame) -> DataFrame:
        """Broadcast a query-derived (wave-bounded) frame in small-wave
        mode; identity in wave mode."""
        return F.broadcast(df) if small_wave else df

    qf = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       quantize(F.col(vec_col)).alias("_qq"))
        .withColumn("_qn", idot(F.col("_qq"), F.col("_qq"))))

    if small_wave:
        # Small wave: join candidates against the RAW vector column and
        # quantize ONLY the surviving rows — streaming the node table
        # through the quantize+norm HOF expressions costs ~the whole
        # corpus pass per score() call even when the candidate side is
        # 50 rows (interpreted HOFs, evaluated below the join's probe;
        # measured 1.7 s -> 0.2 s per round at 20k nodes). The
        # candidate side broadcasts, so the node scan never shuffles.
        raw_nodes = corpus.select(F.col(id_col).alias("_id"),
                                  F.col(vec_col).alias("_ne"))

        def score(cand: DataFrame, hop: int) -> DataFrame:
            j = (
                F.broadcast(cand)
                .join(raw_nodes, cand["node"] == raw_nodes["_id"])
                .join(qf, "query_id")
                # bind the quantized survivor vector ONCE in its own
                # projection: dot and norm both reference it, and
                # inlining would re-run the quantize transform per use
                .select("query_id", "node", "_qq", "_qn",
                        quantize(F.col("_ne")).alias("_q"))
            )
            return j.select(
                "query_id", "node",
                cosine_from_quantized(
                    idot(F.col("_q"), F.col("_qq")),
                    idot(F.col("_q"), F.col("_q")),
                    F.col("_qn")).alias("cosine"),
                F.lit(hop).cast("int").alias("hops"),
            )
    else:
        # Wave: node vectors quantize once per NODE (a candidate wave
        # can hit each node many times), exchanges keyed by node id
        nodes = _with_quantized(corpus, id_col, vec_col)

        def score(cand: DataFrame, hop: int) -> DataFrame:
            return (
                cand.join(nodes.hint("shuffle_hash"),
                          cand["node"] == nodes["_id"])
                .join(qf, "query_id")
                .select(
                    "query_id", "node",
                    cosine_from_quantized(
                        idot(F.col("_q"), F.col("_qq")),
                        F.col("_norm"), F.col("_qn")).alias("cosine"),
                    F.lit(hop).cast("int").alias("hops"),
                ))

    if seeds is None:
        seed_ids = F.broadcast(
            corpus.select(F.col(id_col).alias("node"))
            .orderBy(F.md5(F.col("node").cast("string").cast("binary")),
                     F.col("node"))
            .limit(n_seeds))
        cand = queries.select(
            F.col(id_col).alias("query_id")).crossJoin(seed_ids)
    else:
        # dedup caller-supplied seeds: the (query_id, node) contract
        # doesn't require uniqueness, and a duplicated seed row would
        # otherwise occupy two ranks in the final top-k (ADVICE r6)
        cand = seeds.select("query_id", "node") \
            .dropDuplicates(["query_id", "node"])

    wbeam = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc())
    visited = score(cand, 0)
    spark = graph.sparkSession
    expanded = spark.createDataFrame(
        [], visited.select("query_id", "node").schema)
    def chk(df: DataFrame) -> DataFrame:
        # small wave: visited/expanded are a few hundred rows — collapse
        # the inherited shuffle layout so per-round stages don't launch
        # dozens of empty tasks (guide §2.2)
        return (df.coalesce(4) if small_wave else df) \
            .localCheckpoint(eager=True)

    for r in range(1, rounds + 1):
        # between-round materialization, as in refine_knn_graph:
        # `visited` is referenced three times per round (frontier
        # selection, candidate anti-join, union), so a lazy chain
        # multiplies the whole prior plan per round
        visited = chk(visited)
        # the reference's NGQueue pop: best `beam` VISITED nodes this
        # query has not expanded yet. All frames here are query-derived
        # (wave-bounded): in small-wave mode the anti-join build sides
        # and the frontier side of the edge join broadcast, so the only
        # scan of graph-sized data per round is the streamed edge list.
        frontier = (
            visited.join(bq(expanded), ["query_id", "node"], "left_anti")
            .withColumn("_r", F.row_number().over(wbeam))
            .filter(F.col("_r") <= beam)
            .select("query_id", "node")
        )
        expanded = chk(expanded.unionByName(frontier))
        nbrs = (
            bq(frontier).join(edges, frontier["node"] == edges["src"])
            .select("query_id", F.col("dst").alias("node"))
            .dropDuplicates(["query_id", "node"])
            .join(bq(visited.select("query_id", "node")),
                  ["query_id", "node"], "left_anti")
        )
        visited = visited.unionByName(score(nbrs, r))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("node").asc())
    return (
        visited.withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("node").alias(id_col), "cosine",
                "rank", "hops")
    )

