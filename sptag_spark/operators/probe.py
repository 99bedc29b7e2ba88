"""One probe pipeline for every persisted IVF-family index.

The reference's query layer is a single shape — select the posting
lists to read, scan only those, score, merge the top-k
(SPANNIndex.cpp:293-395; ExtraStaticSearcher.h:260-411). Every entry
point that probes a persisted `partitionBy('bucket')` index (flat IVF,
IVF-PQ, BKT and the batch budgeted scan) runs it through this module in
two steps:

- **Selection** (`select_probes`). One limit-bounded Arrow collect of
  `(query_id, vec)` decides the mode. A batch of at most
  `driver_probe_limit` rows runs the family's probe kernel on the driver
  and prunes the postings scan with a static bucket IN-list; a larger
  wave runs the same kernel on executors (`mapInArrow`), writes the
  probe frame to a side table and prunes through a broadcast
  distinct-bucket semi-join (dynamic partition pruning). The kernel is
  a plain numpy function over the raw query matrix (`ProbeKernel`), so
  both modes compute identical probes.
- **Scoring** (`score_probes`). The pruned scan feeds one tail: exact
  quantized cosine by default, or a pluggable scorer (ivfpq's ADC scan
  plus exact re-rank); one replica-dedup step; one per-query norm
  broadcast; one rank window. Waves score per bucket inside cogrouped
  Arrow kernels, so the candidate blowup never becomes Spark rows.

The single-query budgeted scan (`knn.relaxed_mono_topk`) runs the batch
budget kernel on its one-row query matrix.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from sptag_spark.functions.vecarrow import (
    exact_int_matmul,
    list_to_matrix,
    np_quantize,
)
from sptag_spark.operators.knn import (
    _collect_centroids,
    _is_local_fs_path,
    _probe_pairs_np,
    cosine_from_quantized,
    idot,
    quantize,
)


class ProbeKernel(NamedTuple):
    """A family's probe selection as a plain function: `fn(X)` maps the
    raw (n, dim) float64 query matrix to `(rows, buckets)` — row indices
    into X and the bucket each probes — or `(rows, buckets, thresholds)`
    when `thresholds` is set (the budget walk's nullable per-probe
    Relaxed-Monotonicity threshold, emitted as `__thr`)."""

    fn: Callable
    bucket_type: DataType = LongType()
    thresholds: bool = False


class Probes(NamedTuple):
    """Selected probes: `frame` is (query_id, bucket[, __thr]);
    `prune(postings)` restricts a postings scan to the probed buckets;
    `wave` is True when the batch exceeded the driver bound."""

    frame: DataFrame
    prune: Callable[[DataFrame], DataFrame]
    wave: bool


def load_centroids(spark, path: str):
    """Centroid table -> (ids ascending, quantized matrix, norms, bucket
    DataType). On local index paths a driver pyarrow read — zero Spark
    jobs; np_quantize is the bit-identical HALF_UP twin of the JVM
    quantize expression the collect fallback applies."""
    if not _is_local_fs_path(path):
        centroids = spark.read.parquet(f"{path}/centroids")
        ids, mat, norms = _collect_centroids(centroids)
        return ids, mat, norms, centroids.schema["centroid_id"].dataType
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    tbl = pq.read_table(f"{path}/centroids")
    ids_raw = tbl.column("centroid_id").to_numpy(zero_copy_only=False)
    V = list_to_matrix(tbl.column("centroid_vec"), np.float64)
    order = np.argsort(ids_raw, kind="stable")  # ascending-id contract
    mat = np_quantize(V[order])
    norms = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    return (list(ids_raw[order]), mat, norms,
            from_arrow_type(tbl.schema.field("centroid_id").type))


def ivf_kernel(centroids, nprobe: int,
               max_dist_ratio: float | None = None) -> ProbeKernel:
    """The IVF centroid core over a load_centroids tuple: the nprobe
    nearest heads per query by exact quantized cosine
    (knn._probe_pairs_np), optionally cut by the reference's adaptive
    max_dist_ratio (SPANNIndex.cpp:324-330)."""
    ids, mat, norms, bucket_type = centroids

    def fn(X):
        return _probe_pairs_np(np_quantize(X), ids, mat, norms, nprobe,
                               max_dist_ratio)

    return ProbeKernel(fn, bucket_type)


def _probe_schema(query_type: DataType, kernel: ProbeKernel) -> StructType:
    fields = [StructField("query_id", query_type),
              StructField("bucket", kernel.bucket_type)]
    if kernel.thresholds:
        fields.append(StructField("__thr", DoubleType()))
    return StructType(fields)


def _run_kernel(kernel: ProbeKernel, batch, arrow_schema):
    """One Arrow batch (or table) of (query_id, __e) -> probe batch."""
    import pyarrow as pa

    X = list_to_matrix(batch.column("__e"), np.float64)
    if len(X) == 0:
        return pa.RecordBatch.from_pylist([], schema=arrow_schema)
    rows, buckets, *thr = kernel.fn(X)
    qid = batch.column("query_id")
    if isinstance(qid, pa.ChunkedArray):
        qid = qid.combine_chunks()
    cols = [qid.take(pa.array(rows, pa.int64())),
            pa.array(buckets).cast(arrow_schema.field("bucket").type)]
    if kernel.thresholds:
        cols.append(pa.array(thr[0], pa.float64()))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def probe_frame(queries: DataFrame, kernel: ProbeKernel,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """The kernel run on executors: (query_id, bucket[, __thr])."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _probe_schema(queries.schema[id_col].dataType, kernel)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            yield _run_kernel(kernel, batch, arrow_schema)

    return queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("__e")) \
        .mapInArrow(run, schema=schema)


def select_probes(spark, path: str, queries: DataFrame,
                  kernel: ProbeKernel, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  driver_probe_limit: int = 10_000,
                  probe_scratch_dir: str | None = None) -> Probes:
    """Choose driver or wave ONCE, from one limit-bounded Arrow collect.

    - batch (<= driver_probe_limit queries): the collect both decides
      and delivers the vectors; the kernel runs on the driver and the
      bucket set is inlined as a static IN filter — one cluster job,
      the right shape for interactive query batches.
    - wave (more queries, or driver_probe_limit <= 0): the kernel runs
      executor-side and its output is WRITTEN to a side table under
      `{probe_scratch_dir or path}/_probes` (never through the driver),
      and a broadcast distinct-bucket semi-join drives dynamic
      partition pruning of the postings scan. Default waves therefore
      need write access to the index path; pass `probe_scratch_dir` to
      wave-probe a read-only shared index. ivf_compact and
      knn.cleanup_probe_tables remove the side tables."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__e"))
    schema = _probe_schema(queries.schema[id_col].dataType, kernel)
    local = (q.limit(driver_probe_limit + 1).toArrow()
             if driver_probe_limit > 0 else None)
    if local is not None and local.num_rows <= driver_probe_limit:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out = pa.Table.from_batches(
            [_run_kernel(kernel, local, to_arrow_schema(schema))])
        buckets = sorted(set(out.column("bucket").to_pylist()))
        frame = F.broadcast(spark.createDataFrame(out, schema=schema))
        return Probes(
            frame, lambda post: post.filter(F.col("bucket").isin(buckets)),
            False)

    import uuid

    from pyspark.sql.types import NumericType

    # always under a _probes/ child — cleanup_probe_tables removes
    # exactly that child, so a user scratch dir's other contents are
    # out of blast radius
    base = probe_scratch_dir if probe_scratch_dir is not None else path
    table = f"{base}/_probes/{uuid.uuid4().hex}"
    probe_frame(queries, kernel, id_col, vec_col) \
        .write.mode("overwrite").parquet(table)
    frame = spark.read.parquet(table)
    bucket_set = frame.select("bucket")
    if isinstance(bucket_set.schema["bucket"].dataType, NumericType):
        # constant-true comparison: PartitionPruning only inserts the
        # DPP subquery when the build side carries a "likely selective"
        # predicate (isnotnull does not count); without it the semi
        # join filters ROWS but the scan reads every bucket FILE
        # (plan-gated in test_plans.py)
        bucket_set = bucket_set.filter(F.col("bucket") >= F.lit(-(1 << 62)))
    bucket_set = F.broadcast(bucket_set.distinct())
    return Probes(frame,
                  lambda post: post.join(bucket_set, "bucket", "semi"),
                  True)


def score_probes(postings: DataFrame, probes: Probes, queries: DataFrame,
                 k: int, id_col: str = "vec_id",
                 vec_col: str = "embedding", predicate=None,
                 exclude_self: bool = True, scorer=None,
                 out_id: str = "vec_id") -> DataFrame:
    """The shared pruned scoring tail -> (query_id, out_id, cosine,
    rank), top-k per query by (cosine DESC, id ASC), over the
    `postings` rows (a persisted index's read_postings, or in-memory
    bucketed rows) the probes select.

    `scorer=None` scores every probed posting row by exact quantized
    cosine. A pluggable scorer (ivfpq.AdcScorer) shortlists candidates
    first and hands back exact-cosine inputs; it provides
    `wave_partials`, `shortlist` and `driver_candidates` (see there).
    `predicate` (Column or SQL string over posting columns) lands in the
    same pruned scan as a pushed filter — the reference's
    SearchIndexWithFilter over SPANN postings (VectorIndex.h:59).
    `exclude_self` drops the query's own id from its results."""
    replicated = "replica_rank" in postings.columns
    post = postings if predicate is None else postings.filter(predicate)
    pairs = probes.frame.select("query_id", "bucket")

    def dedup(df: DataFrame) -> DataFrame:
        if not replicated:
            return df
        # replica copies of a row score identically: one candidate per
        # (query, vector) — the reference's visited set (P5).
        # Repartition on query_id FIRST: that partitioning satisfies the
        # dedup's (query_id, id) clustering AND the rank window's — one
        # exchange instead of two (CLAUDE.md rule 17)
        return df.drop("bucket", "replica_rank").repartition("query_id") \
            .dropDuplicates(["query_id", id_col])

    # per-QUERY quantized vector and norm: one tiny broadcast frame,
    # never shipped on every candidate row
    qf = queries.select(F.col(id_col).alias("query_id"),
                        quantize(F.col(vec_col)).alias("_qq")) \
        .withColumn("_nb", idot(F.col("_qq"), F.col("_qq")))
    if probes.wave:
        q_raw = queries.select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("__qe"))
        if scorer is None:
            partial = _exact_partials_cogrouped(
                probes.prune(post.select(id_col, "bucket",
                                         F.col(vec_col).alias("__pe"))),
                pairs, q_raw, k, id_col, exclude_self)
        else:
            partial = scorer.wave_partials(probes.prune, post, pairs, q_raw,
                                           id_col, vec_col)
        partial = dedup(partial)
        if scorer is not None:
            partial = scorer.shortlist(partial, id_col)
        exact = partial.join(F.broadcast(qf.drop("_qq")), "query_id")
    else:
        scan = post if scorer is None else post.select(
            *scorer.scan_columns(id_col))
        cand = probes.prune(scan).join(pairs, "bucket")
        if exclude_self:
            cand = cand.filter(F.col(id_col) != F.col("query_id"))
        cand = dedup(cand)
        if scorer is not None:
            cand = scorer.driver_candidates(cand, probes.prune, post,
                                            replicated, id_col, vec_col)
        exact = (
            cand.join(F.broadcast(qf), "query_id")
            .withColumn("_pq", quantize(F.col(vec_col)))
            .select("query_id", id_col, "_nb",
                    idot(F.col("_pq"), F.col("_qq")).alias("_dot"),
                    idot(F.col("_pq"), F.col("_pq")).alias("_na")))
    scored = exact.withColumn("cosine", cosine_from_quantized(
        F.col("_dot"), F.col("_na"), F.col("_nb")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias(out_id), "cosine", "rank")
    )


def _exact_partials_cogrouped(
    post_kern: DataFrame,
    probes: DataFrame,
    q_raw: DataFrame,
    k: int,
    id_col: str,
    exclude_self: bool = True,
) -> DataFrame:
    """Per-BUCKET exact-cosine scoring with per-query partial top-`k` —
    the flat-index twin of ivfpq._adc_partials_cogrouped (the
    reference's ProcessPosting shape, ExtraStaticSearcher.h:260-411).
    One int64 matmul per (bucket x probing-query) block, float64
    cosine identical to the JVM expression (dot / (sqrt(na)*sqrt(nb)),
    same op order), stable argsort over id-presorted columns for the
    exact (cosine DESC, id ASC) partial order. Downstream shuffles
    carry only ~Q x nprobe x k rows instead of Q x nprobe x |posting|
    candidate rows through interpreted HOF scoring (CLAUDE.md rules
    10/13). Emits (query_id, id, _dot, _na); the caller
    recomputes cosine with the shared JVM expression so global
    ordering is bit-identical to the driver path.

    Both sides ship RAW floats (`__pe` postings, `__qe` queries); the
    kernel quantizes with vecarrow.np_quantize — the bit-identical
    HALF_UP twin of the JVM expression — for half the shuffle bytes
    and no per-row JVM array allocation (CLAUDE.md rule 13). `_nb`
    (per-QUERY norm) is joined back by the caller from a broadcast
    frame instead of riding every candidate row. Zero-norm vectors
    (NaN cosine) sort last here but first under Spark's NaN-greatest
    DESC — as with the expression path, zero vectors are out of
    contract.

    Arrow-native (applyInArrow + vecarrow zero-copy ingestion, like
    ivfpq._adc_partials_cogrouped); the dot-product matmul runs as
    float64 BLAS whenever max|q| * max|pv| * dim < 2^53 proves every
    partial sum exactly representable (numpy's int64 matmul is a naive
    C loop), falling back to the int64 path otherwise — bit-identical
    either way."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    out_schema = StructType([
        StructField("query_id", probes.schema["query_id"].dataType),
        StructField(id_col, post_kern.schema[id_col].dataType),
        StructField("_dot", LongType()),
        StructField("_na", LongType()),
    ])
    arrow_out = to_arrow_schema(out_schema)
    # key dtypes must match across cogroup sides (partition column is
    # directory-inferred int, centroid_id is long); data-column names
    # must not collide (asof._asof_merge rule)
    probe_q = probes.join(q_raw, "query_id").select(
        F.col("bucket").cast(post_kern.schema["bucket"].dataType)
        .alias("__pb_bucket"), "query_id", "__qe")

    def score(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if left.num_rows == 0 or right.num_rows == 0:
            return arrow_out.empty_table()
        vids_raw = left.column(id_col).to_numpy(zero_copy_only=False)
        order = np.argsort(vids_raw, kind="stable")  # id ASC tiebreak
        vids = vids_raw[order]
        PV = np_quantize(
            list_to_matrix(left.column("__pe"), np.float64))[order]
        Xq = np_quantize(list_to_matrix(right.column("__qe"), np.float64))
        qids = right.column("query_id").to_numpy(zero_copy_only=False)
        nq, n = len(Xq), len(vids)
        na = (PV * PV).sum(1)                            # (n,)
        nb = (Xq * Xq).sum(1)                            # (nq,)
        sqrt_na = np.sqrt(na.astype(np.float64))[None, :]
        r = min(k, n)
        # query-chunked so the chunk's dot/cos matrices and the argsort
        # working set stay cache-resident (same restructure as
        # ivfpq._adc_partials_cogrouped — the full-(nq,n) form streams
        # three matrices through DRAM and flattens at 8 procs);
        # per-query results are independent, so output is bit-identical
        QB = max(16, min(nq, 250_000 // max(n, 1)))
        sel = np.empty((nq, r), dtype=np.int64)
        dots_sel = np.empty((nq, r), dtype=np.int64)
        for q0 in range(0, nq, QB):
            q1 = min(q0 + QB, nq)
            dots_c = exact_int_matmul(Xq[q0:q1], PV.T)   # (qb, n) int64
            cos = dots_c.astype(np.float64) / (
                sqrt_na * np.sqrt(nb[q0:q1].astype(np.float64))[:, None])
            if exclude_self:
                cos[qids[q0:q1, None] == vids[None, :]] = -np.inf
            s_blk = np.argsort(-cos, axis=1, kind="stable")[:, :r]
            sel[q0:q1] = s_blk
            dots_sel[q0:q1] = np.take_along_axis(dots_c, s_blk, 1)
        out_q = np.repeat(qids, r)
        out_v = vids[sel.reshape(-1)]
        keep = (out_q != out_v) if exclude_self \
            else np.ones(len(out_q), dtype=bool)
        return pa.Table.from_arrays([
            pa.array(out_q[keep]),
            pa.array(out_v[keep]),
            pa.array(dots_sel.reshape(-1)[keep]),
            pa.array(na[sel].reshape(-1)[keep]),
        ], schema=arrow_out)

    return post_kern.groupby("bucket").cogroup(
        probe_q.groupby("__pb_bucket")
    ).applyInArrow(score, schema=out_schema)
