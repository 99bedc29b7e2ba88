"""Deduplication operators over the documents table.

The reference dedups candidates per-query with a visited-set hash
(WorkSpace.h:114-165 CheckAndSet) and prunes near-duplicate neighbors with
the RNG rule (RelativeNeighborhoodGraph.h:18-35). A training-data engine
needs the corpus-level versions: exact dedup, shingle-Jaccard similarity
join, MinHash+LSH banding, and SimHash hamming blocking. The per-row
string work (normalize, shingle, md5, sketch) runs in Python Arrow
kernels built on the shared text core of functions/text.py; joins,
banding and aggregates are DataFrame plans. Every operator has an exact
ANSI-SQL oracle, and every kernel is tested against the JVM expression
it replaces (minhash_signature, simhash_sketch, doc_fingerprint,
word_shingles).

Scale notes (100 TB):
- exact dedup is one hash-aggregate on md5(normalized text) — map-side
  partial agg, no driver state;
- the shingle join explodes distinct shingles and self-joins on the
  shingle key; `max_df` drops stop-shingles (doc-frequency cap) which is
  both the standard quality fix and the skew fix — hot shingles are
  exactly the keys that would blow up the shuffle (reference analog: the
  balanced-partition λ penalty, BKTree.h:250-251);
- MinHash/LSH replaces the quadratic join with B band-bucket joins —
  candidate pairs only, verified by exact Jaccard afterwards if needed;
- SimHash blocks on m-of-6 10-bit block combinations of a 60-bit sketch
  (Manku-style); for hamming radius <= 6-m the combination pigeonhole
  makes the blocked join *lossless* vs brute force (the oracle IS the
  brute-force cross join).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from sptag_spark.functions.text import (
    _ensure_parallel,
    doc_fingerprint_arrow,
    map_texts,
    py_normalize_text,
    py_word_shingles,
    word_shingles,
)
from sptag_spark.operators.corpus import _exploded_shingles_arrow


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Tag every row with its content fingerprint, the canonical (minimum)
    id holding that fingerprint, and an is_duplicate flag.

    Fingerprints come from the Arrow kernel (doc_fingerprint_arrow —
    char-identical to the JVM md5(normalize) expression doc_fingerprint,
    and it scales across cores where the JVM regex+md5 churn flat-lines,
    CLAUDE.md rule 13). Canonical id and copy count are window
    aggregates over partitionBy(fp) — ONE exchange and ONE fingerprint
    evaluation, where the old groupBy + join-back
    re-ran the scan+fingerprint for each join branch (the aggregated
    side broadcasts, so nothing reuses the first exchange). NULL-fp rows
    (NULL text) are dropped, exactly as the old inner join on fp did.
    """
    from pyspark.sql.window import Window

    fp = doc_fingerprint_arrow(df, id_col, text_col)
    w = Window.partitionBy("fp")
    return (
        fp.filter(F.col("fp").isNotNull())
        .withColumn("canonical_" + id_col, F.min(id_col).over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .select(
            id_col,
            "fp",
            "canonical_" + id_col,
            "n_copies",
            (F.col(id_col) != F.col("canonical_" + id_col))
            .cast("int")
            .alias("is_duplicate"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join
# ---------------------------------------------------------------------------

def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, max_df: int | None,
) -> DataFrame:
    """Exploded (doc, shingle) rows hash-repartitioned on the shingle
    string `_sh`.

    The repartition is THE load-bearing line: every downstream consumer —
    both sides of the Jaccard self-join AND the stop-shingle frequency
    aggregation — hangs off this one Exchange. Partitioning on `_sh`
    ALONE — the exact join key — matters because joins require their
    children co-partitioned on ALL join keys
    (spark.sql.requireAllClusterKeysForCoPartition, default true; subset
    satisfaction applies to aggregates/windows, NOT joins): the string
    equality check is pushed into the join as an equi-key, so any
    partitioning that isn't exactly the join-key set forced BOTH 2.6M-row
    join sides through ENSURE_REQUIREMENTS re-exchanges (visible in
    plans/r07/dedup_jaccard_before.txt: hashpartitioning(_h,_sh)
    ENSURE_REQUIREMENTS stacked on the repartition). With `_sh` as both
    the partition key and the
    only join key, the self-join and the frequency aggregate consume the
    one exchange directly. The old int64 xxhash64 surrogate `_h` is
    dropped: once the string is a join key anyway, the surrogate adds
    bytes and a second key comparison for nothing. Skew safety: the
    frequency aggregate partial-aggregates map-side (a reducer sees at
    most one row per upstream partition per shingle, never a hot
    shingle's raw rows), and the anti-join kills stop shingles BEFORE
    the self-join probes, so the worst join group is max_df^2 by
    construction.

    Shingling runs in the Arrow kernel (corpus._exploded_shingles_arrow
    — char-identical strings to the word_shingles expression, same
    distinct/degenerate/NULL semantics): the normalize regex + shingle
    string churn is the classic single-JVM thread-scaling killer
    (CLAUDE.md rule 13)."""
    from sptag_spark.session import shuffle_parts

    sh = _exploded_shingles_arrow(df, id_col, text_col, n, with_count=True) \
        .filter(F.col("_sh").isNotNull()) \
        .repartition(shuffle_parts(df.sparkSession), "_sh")
    if max_df is not None:
        # The dummy max() aggregates keep _id/_n_sh referenced in this
        # branch: column pruning would otherwise specialize the branch's
        # copy of the exchange to _sh only, making it canonically
        # different from the join sides' copy and defeating stage reuse
        # (= a second scan + second shingle evaluation).
        freq = sh.groupBy("_sh").agg(
            F.count(F.lit(1)).alias("_df"),
            F.max("_id").alias("_prune_guard_id"),
            F.max("_n_sh").alias("_prune_guard_n"),
        )
        stop = freq.filter(F.col("_df") > max_df).select("_sh")
        sh = sh.join(F.broadcast(stop), "_sh", "left_anti")
    return sh


# Stop-shingle cap defaults: a shingle shared by more than
# min(max(FLOOR, FRAC * n_docs), CEIL) documents is a stop phrase — it
# contributes ~nothing to Jaccard on real pairs but makes a quadratic
# join group. CEIL makes the cap ABSOLUTE: a purely fractional cap grows
# linearly with the corpus, so the worst permitted join group (cap^2
# pairs) grows QUADRATICALLY with N — at 10^9 docs a 0.005 frac allows
# 5e6-doc shingle groups = ~1.2e13-pair join explosions. With CEIL the
# worst group is CEIL^2 pairs (~2.5e7) regardless of corpus size; docs
# sharing only stop-phrases above the cap belong in jaccard_pairs_lsh
# (banded signatures, no shingle join) anyway.
MAX_DF_FLOOR = 500
MAX_DF_FRAC = 0.005
MAX_DF_CEIL = 5_000


def auto_max_df(df: DataFrame) -> int:
    """Corpus-derived doc-frequency cap:
    min(max(500, ceil(0.005 * n_docs)), 5000). The count() is
    parquet-metadata-cheap; the formula is mirrored verbatim in the SQL
    oracle so capped results stay hash-exact. The 5000 ceiling bounds
    the largest permitted join group independent of corpus size (the
    100-TB fix — see MAX_DF_CEIL's comment)."""
    return min(
        max(MAX_DF_FLOOR, math.ceil(MAX_DF_FRAC * df.count())),
        MAX_DF_CEIL,
    )


def _sizes_for(ids_sorted, ns, ids):
    """Jaccard kernel 2's sizes lookup: ``ns`` at each of ``ids`` in the
    sorted, unique ``ids_sorted``. An id the table lacks raises the
    diagnostic ValueError; the searchsorted index is clipped first, so an
    id past the largest one (or any id on an empty table) gets it too
    instead of an IndexError."""
    i = ids_sorted.searchsorted(ids).clip(max=max(len(ids_sorted) - 1, 0))
    if len(ids) and (not len(ids_sorted) or (ids_sorted[i] != ids).any()):
        raise ValueError("jaccard blob kernel: pair id missing from the "
                         "sizes table")
    return ns[i]


def _pair_counts_blob(sh: DataFrame, id_ddl: str, threshold: float):
    """(id_a, id_b, n_a, n_b, n_common, jaccard) — the co-occurrence
    count + threshold filter done as two Arrow kernels exchanging PACKED
    BINARY partials instead of 114M pair rows (guide §8: when the
    decision data is huge, move it once as blobs).

    The row-based formulation is boundary-bound in both engines:
    co-occurring pairs are ~90% DISTINCT, so the JVM partial aggregate
    builds output-sized maps for ~no compression (sort-fallback churn),
    and a row-per-pair numpy kernel loses to the 1024-row Arrow batch
    framing (measured 17→44 s — CLAUDE.md rule 23). Here kernel 1
    (per partition of the shared `_sh` exchange) enumerates pairs with
    the repeat/cumsum construction over exact-string groups (pyarrow
    dictionary codes: same string <=> same code, so a hash collision
    cannot merge groups), partially counts them with one lexsort +
    reduceat, buckets pairs by a deterministic hash, and emits ONE row
    per (partition, bucket) whose payload is the raw int64 bytes of the
    (id_a, id_b, count) arrays. The exchange then carries ~P² blob
    cells; kernel 2 concatenates its bucket's blobs, merges counts with
    a second lexsort+reduceat, attaches the pre-cap set sizes from a
    broadcast (ids, n_sh) array pair (np.searchsorted), computes
    jaccard with the same IEEE ops as the relational expression
    (int64-exact numerator/denominator, one float64 divide), and emits
    ONLY the pairs at or above the threshold — thousands of rows, not
    114M. Pair-for-pair, bit-for-bit equal to the join+aggregate path
    (test_jaccard_engines_identical)."""
    from sptag_spark.session import shuffle_parts

    spark = sh.sparkSession
    P = shuffle_parts(spark)
    thr = float(threshold)

    # pre-cap sizes, one Arrow collect of the per-doc aggregate branch
    # (its shuffle map stages are shared with the main job — same `sh`
    # lineage), broadcast as sorted parallel arrays for searchsorted
    szt = sh.groupBy("_id").agg(
        F.first("_n_sh").alias("_n_sh"),
        F.max("_sh").alias("_prune_guard_sh"),
    ).select("_id", "_n_sh").toArrow()
    sz_ids = szt.column("_id").to_numpy(zero_copy_only=False) \
        .astype(np.int64)
    sz_n = szt.column("_n_sh").to_numpy(zero_copy_only=False) \
        .astype(np.int64)
    order = np.argsort(sz_ids, kind="stable")
    bc_sizes = spark.sparkContext.broadcast(
        (sz_ids[order], sz_n[order]))

    MIX = np.int64(-7046029254386353131)  # 0x9E3779B97F4A7C15 as int64

    def bucket_of(id_a, id_b):
        with np.errstate(over="ignore"):
            h = (id_a * MIX) ^ id_b
        return (h & np.int64(0x7FFFFFFFFFFFFFFF)) % np.int64(P)

    def kernel1(batches):
        import pyarrow.compute as pc

        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        if tbl.num_rows == 0:
            return
        ids = tbl.column("_id").to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        codes = pc.dictionary_encode(tbl.column("_sh").combine_chunks()) \
            .indices.to_numpy(zero_copy_only=False).astype(np.int64)
        order = np.lexsort((ids, codes))
        codes_s, ids_s = codes[order], ids[order]
        m = len(ids_s)
        change = np.empty(m, dtype=bool)
        change[0] = True
        np.not_equal(codes_s[1:], codes_s[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        grp = np.cumsum(change) - 1
        sizes = np.diff(np.append(starts, m))
        pos = np.arange(m) - starts[grp]
        lead = sizes[grp] - 1 - pos
        total = int(lead.sum())
        if total == 0:
            return
        a_idx = np.repeat(np.arange(m), lead)
        csum = np.concatenate(([0], np.cumsum(lead)))
        b_idx = a_idx + (np.arange(total) - csum[a_idx]) + 1
        id_a, id_b = ids_s[a_idx], ids_s[b_idx]
        # partial count within the partition: lexsort + run lengths
        porder = np.lexsort((id_b, id_a))
        id_a, id_b = id_a[porder], id_b[porder]
        pchange = np.empty(total, dtype=bool)
        pchange[0] = True
        np.logical_or(id_a[1:] != id_a[:-1], id_b[1:] != id_b[:-1],
                      out=pchange[1:])
        pstarts = np.flatnonzero(pchange)
        cnt = np.diff(np.append(pstarts, total)).astype(np.int64)
        ua, ub = id_a[pstarts], id_b[pstarts]
        # bucket + pack: one binary payload per target bucket
        bk = bucket_of(ua, ub)
        border = np.argsort(bk, kind="stable")
        ua, ub, cnt, bk = ua[border], ub[border], cnt[border], bk[border]
        bstarts = np.flatnonzero(np.concatenate(
            ([True], bk[1:] != bk[:-1])))
        bends = np.append(bstarts[1:], len(bk))
        out_b, out_p = [], []
        for s, e in zip(bstarts, bends):
            out_b.append(int(bk[s]))
            out_p.append(ua[s:e].tobytes() + ub[s:e].tobytes()
                         + cnt[s:e].tobytes())
        yield pa.record_batch(
            [pa.array(out_b, pa.int32()), pa.array(out_p, pa.binary())],
            names=["_b", "_p"],
        )

    def kernel2(batches):
        bufs_a, bufs_b, bufs_c = [], [], []
        for batch in batches:
            for blob in batch.column("_p").to_pylist():
                arr = np.frombuffer(blob, dtype=np.int64)
                k = len(arr) // 3
                bufs_a.append(arr[:k])
                bufs_b.append(arr[k:2 * k])
                bufs_c.append(arr[2 * k:])
        if not bufs_a:
            return
        id_a = np.concatenate(bufs_a)
        id_b = np.concatenate(bufs_b)
        cnt = np.concatenate(bufs_c)
        order = np.lexsort((id_b, id_a))
        id_a, id_b, cnt = id_a[order], id_b[order], cnt[order]
        m = len(id_a)
        change = np.empty(m, dtype=bool)
        change[0] = True
        np.logical_or(id_a[1:] != id_a[:-1], id_b[1:] != id_b[:-1],
                      out=change[1:])
        starts = np.flatnonzero(change)
        n_common = np.add.reduceat(cnt, starts)
        ua, ub = id_a[starts], id_b[starts]
        ids_sorted, ns = bc_sizes.value
        na = _sizes_for(ids_sorted, ns, ua)
        nb = _sizes_for(ids_sorted, ns, ub)
        # same IEEE ops as the relational expression: exact int64
        # numerator/denominator, one correctly-rounded float64 divide
        jac = n_common.astype(np.float64) / \
            (na + nb - n_common).astype(np.float64)
        keep = jac >= thr
        yield pa.record_batch(
            [pa.array(ua[keep]), pa.array(ub[keep]),
             pa.array(na[keep].astype(np.int32), pa.int32()),
             pa.array(nb[keep].astype(np.int32), pa.int32()),
             pa.array(n_common[keep]),
             pa.array(jac[keep], pa.float64())],
            names=["id_a", "id_b", "n_a", "n_b", "n_common", "jaccard"],
        )

    partials = sh.mapInArrow(kernel1, schema="_b int, _p binary")
    return partials.repartition(P, "_b").mapInArrow(
        kernel2,
        schema=(f"id_a {id_ddl}, id_b {id_ddl}, n_a int, n_b int, "
                "n_common long, jaccard double"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """All pairs (a < b) with shingle-Jaccard >= threshold.

    jaccard = |A∩B| / (|A| + |B| − |A∩B|) over DISTINCT n-word shingles.
    |A|,|B| are pre-filter set sizes so max_df only prunes candidate
    generation, not the denominator (mirrored in the oracle).

    max_df defaults to the corpus-derived `auto_max_df` cap: without it a
    stop-shingle appearing in k docs makes a k² join group — at 10^12
    rows that is THE scale-killer (reference analog: the λ-penalty
    stop-key pruning, BKTree.h:250-251). Pass None to disable (exact
    textbook Jaccard, correctness baseline only).

    bigint ids take the packed-binary pair count (_pair_counts_blob): the
    row-per-pair formulations are boundary-bound in both engines. Other
    id types take the relational self-join below, with the same values.
    """
    if max_df == "auto":
        max_df = auto_max_df(df)
    sh = _exploded_shingles(df, id_col, text_col, n, max_df)
    if isinstance(df.schema[id_col].dataType, LongType):
        return _pair_counts_blob(sh, "bigint", threshold)
    # Self-join on the exact shingle string — it is the join KEY, not a
    # post-join check, so both sides consume the shared `_sh` exchange
    # directly (see _exploded_shingles: joins need co-partitioning on
    # ALL join keys).
    a, b = sh.alias("a"), sh.alias("b")
    # Shuffle KEYS, not payloads (guide §2.3): co-occurring pairs are
    # almost all DISTINCT (measured 114M distinct of 127M generated at
    # 50k docs), so the map-side partial aggregate compresses ~nothing
    # and every partial row crosses the exchange — carrying the n_a/n_b
    # sizes on each pair row is a third more shuffle bytes for values
    # that are functions of the doc id. The pair exchange therefore
    # ships only (id_a, id_b, partial count); the PRE-cap set sizes
    # re-attach from a ~n_docs-row broadcast frame (itself a fourth
    # branch of the same shingle exchange) after the aggregate.
    counts = (
        # shuffle_hash: hash-probing the ~40k-row-per-partition build
        # side beats SMJ's two per-partition sorts (measured 6.4 ->
        # 4.5 s on the 127M-pair join at 50k docs)
        a.join(b.hint("shuffle_hash"),
               (F.col("a._sh") == F.col("b._sh"))
               & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = F.broadcast(
        sh.groupBy("_id").agg(
            F.first("_n_sh").alias("_n_sh"),
            F.max("_sh").alias("_prune_guard_sh"),
        ).select("_id", "_n_sh")
    )
    out = (
        counts
        .join(sizes.select(F.col("_id").alias("id_a"),
                           F.col("_n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"),
                           F.col("_n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_a", "n_b", "n_common", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

_MH_MASK61 = (1 << 61) - 1


def _mh_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic multiply-shift constants (a_h odd 31-bit, b_h
    61-bit) from md5 bytes — shared literals between the Spark
    expressions and the SQL oracle."""
    out = []
    for h in range(num_hashes):
        d = hashlib.md5(f"mh|{seed}|{h}".encode()).digest()
        # a < 2^30 and x < 2^32 keep a*x < 2^62, + b < 2^61 stays inside
        # int64 for EVERY (a, b) — 31-bit a's overflowed for some h under
        # ANSI mode (and errored in DuckDB) once num_hashes grew past 32.
        a = (int.from_bytes(d[:4], "big") | 1) & 0x3FFFFFFF
        b = int.from_bytes(d[4:12], "big") & ((1 << 60) - 1)
        out.append((a, b))
    return out


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: ONE md5 per shingle (base hash x =
    first 8 md5 hex chars as int), then num_hashes exact-integer
    multiply-shift permutations h_i(x) = (a_i*x + b_i) & (2^61-1) —
    a_i < 2^31 and x < 2^32, so every product stays inside int64 and
    both engines compute it exactly. ~10x less hashing than num_hashes
    seeded md5s per shingle; the md5 base keeps the family engine-
    neutral for the oracle. The JVM expression form:
    minhash_signature_arrow is the hot path and is tested against it."""
    # Materialize shingles AND the base-hash array in their own
    # projections: each is referenced by num_hashes sibling expressions,
    # and CollapseProject would otherwise re-inline the md5 per hash.
    shingled = _ensure_parallel(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), n).alias("_shingles"),
    )
    based = shingled.select(
        "_id",
        F.transform(
            F.col("_shingles"),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("long"),
        ).alias("_xs"),
    )

    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)).bitwiseAND(
            F.lit(_MH_MASK61)
        )

    sig = F.array(*[
        F.array_min(F.transform(F.col("_xs"), _perm(a, b)))
        for a, b in _mh_params(num_hashes)
    ])
    return based.select("_id", sig.alias("sig"))


def minhash_signature_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    n: int = 3,
) -> DataFrame:
    """Arrow/numpy twin of `minhash_signature` — bit-identical values
    (tested element-for-element), and crucially it SCALES: the JVM
    expression tree allocates ~40 short-lived strings per doc (shingles +
    md5 hex) and single-JVM allocator/GC contention caps the 2→8-core
    speedup of the expression path at ~1.7x; Python workers are separate
    PROCESSES with private allocators — the same design that gives the
    token pipeline its 0.83-0.95 scaling efficiency (BENCH.md).

    Normalization and shingling ALSO run in the kernel (the shared
    py_normalize_text / py_word_shingles, asserted char-identical to the
    JVM rules on every corpus, tests/test_dedup.py): the JVM regex+string
    churn is the part that does NOT scale across threads in one JVM
    (measured ~35us/doc at 1 thread degrading ~10x per-core at 8 threads
    — allocator/GC contention), while separate Python processes scale at
    ~1.0. The kernel md5s each n-shingle (identical bytes) and applies
    the shared multiply-shift permutations in int64 (a < 2^30, x < 2^32
    — no overflow, same as the expression and the DuckDB oracle)."""
    params = _mh_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def row(text):
        norm = py_normalize_text(text)
        if norm is None:
            # expr twin: word_shingles(NULL) = [null] -> md5(null) = null
            # -> array_min = null per hash
            return [([None] * num_hashes,)]
        xs = np.frombuffer(
            b"".join(hashlib.md5(s.encode()).digest()[:4]
                     for s in py_word_shingles(norm, n)),
            dtype=">u4",
        ).astype(np.int64)
        return [(((A * xs + B) & _MH_MASK61).min(axis=1).tolist(),)]

    return map_texts(df, text_col, [id_col],
                     [("sig", pa.list_(pa.int64()))], row) \
        .withColumnRenamed(id_col, "_id")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    rows-per-band r = num_hashes/bands; collision prob ≈ 1-(1-j^r)^b.
    The band key is md5 over the band's signature slice; the self-join is
    per (band_idx, band_key) so hot buckets parallelize across bands.
    Signatures come from minhash_signature_arrow.
    """
    if bands < 1 or num_hashes < 1 or num_hashes % bands:
        raise ValueError(
            f"minhash_lsh_pairs: num_hashes={num_hashes} must be a positive "
            f"multiple of bands={bands} (every band takes num_hashes/bands "
            "rows of the signature)")
    r = num_hashes // bands
    sigs = minhash_signature_arrow(df, id_col, text_col, num_hashes, n)
    # Band keys are the RAW signature slice as r long columns, NOT a
    # concat string: the multi-key long equi-join has identical
    # semantics (delimited concat equality == tuple equality) with zero
    # per-row string allocation — JVM string churn is exactly what
    # anti-scales across threads in one JVM (see
    # minhash_signature_arrow's docstring).
    kcols = [f"k{i}" for i in range(r)]
    banded = sigs.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    *[F.element_at("sig", b * r + i + 1).alias(kcols[i])
                      for i in range(r)],
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("_id", "bk.band", *[f"bk.{k}" for k in kcols])
    # explicit exchange on the join keys ABOVE the kernel: both self-join
    # sides hang off it, AQE reuses the stage, and the signature kernel
    # executes ONCE (without this, each side re-ran the Python kernel —
    # the reused exchange sat below it)
    from sptag_spark.session import shuffle_parts

    banded = banded.repartition(
        shuffle_parts(df.sparkSession), "band", *kcols
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) \
        & (F.col("a._id") < F.col("b._id"))
    for k in kcols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash-LSH candidates → EXACT Jaccard verification — the scale
    path for the apply-side of dedup (what you anti-join losers from).

    Never joins on raw shingles: candidate pairs come from the banded
    signature join (bounded by band-bucket collisions, not shingle doc
    frequency), then each candidate's true Jaccard is computed from the
    two docs' distinct-shingle arrays (array_intersect — one row per
    candidate, no explode). Precision is exact; recall is the standard
    1-(1-j^r)^b LSH curve. Deterministic end-to-end (md5 signatures), so
    the DuckDB oracle replicates it exactly.

    Output schema matches jaccard_pairs: (id_a, id_b, n_a, n_b,
    n_common, jaccard).
    """
    # Candidates come from the Arrow signature kernel (scales across
    # cores); the exact-verify join then shingles ONLY the candidate
    # docs — a semi-join of the corpus against the candidate id set —
    # never the full corpus. At 100 TB the candidate set is orders of
    # magnitude smaller than the corpus, so the expensive JVM shingle
    # expression runs on a sliver (an earlier shape shingled and
    # shuffled the whole corpus to serve a few hundred candidates).
    # (An Arrow array-shingle kernel + broadcast-candidate variant of
    # this verify measured WORSE at 50k docs — 5.4 -> 6.3-7.1 s: the
    # kernel forces an extra .rdd plan compile + repartition over a
    # join output and breaks inline evaluation above the semi-join —
    # so the expression verify stands, r7.)
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, n)
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    docs_c = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).join(cand_ids, "_id")
    sh = docs_c.select(
        "_id", word_shingles(F.col("_text"), n).alias("_sh")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.size("_sh_a").alias("n_a"),
            F.size("_sh_b").alias("n_b"),
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("n_common"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_BLOCKS = 6
_SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 10


def simhash_sketch(text_col) -> "F.Column":
    """60-bit SimHash over the 3-word shingles of the normalized text.

    Shingle hash = first 15 hex chars of md5 (60 bits, engine-neutral,
    and < 2^60 so it stays positive in int64 in BOTH engines — bit 63
    would need negative-number gymnastics DuckDB and Spark disagree on).
    Bit j of the sketch is 1 iff sum over shingles of ±1 (sign of hash
    bit j) > 0. Shingles, not words: on a small shared vocabulary
    word-level sketches saturate (every doc has near-identical word
    sets) while the shingle set is ~|vocab|^3 and keeps random pairs
    near hamming 30.
    """
    shingles = word_shingles(text_col, 3)
    hashes = F.transform(
        shingles,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )
    return simhash_from_hashes(hashes)


def simhash_from_hashes(hashes: "F.Column") -> "F.Column":
    """SimHash sketch from an already-computed array<long> of feature
    hashes. Callers on the hot path should materialize the hash array in
    its own projection first — the 60 per-bit aggregates each reference
    it, and inlining would recompute md5+conv 32x per row."""
    def _bit_weight(mask: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    bit_terms = []
    for j in range(SIMHASH_BITS):
        weight = F.aggregate(
            hashes, F.lit(0).cast("long"), _bit_weight(1 << j)
        )
        bit_terms.append(
            F.when(weight > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        )
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def simhash_sketch_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, text) -> (_id, sim): normalize + distinct 3-shingles + md5 +
    the 60 per-bit majority votes fused in ONE Python kernel — the
    scaling shape (see minhash_signature_arrow: JVM per-shingle string
    churn flat-lines across threads in one JVM; Python workers scale at
    ~1.0). Bit-identical to simhash_sketch (tested): distinct shingles
    (votes count the shingle SET, matching array_distinct), same
    md5-first-15-hex int64 (= first 8 digest bytes >> 4), NULL text ->
    all-bits-lose -> sim 0 (the expression's when(null).otherwise(-1)
    semantics)."""
    ar = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = (1 << ar).astype(np.int64)

    def row(text):
        norm = py_normalize_text(text)
        if norm is None:
            return [(0,)]
        # first 15 md5 hex chars == first 8 digest bytes >> 4
        xs = (np.frombuffer(
            b"".join(hashlib.md5(s.encode()).digest()[:8]
                     for s in py_word_shingles(norm, 3)),
            dtype=">u8",
        ) >> np.uint64(4)).astype(np.int64)
        votes = (((xs[:, None] >> ar) & 1) * 2 - 1).sum(axis=0)
        return [(int(((votes > 0) * weights).sum()),)]

    return map_texts(df, text_col, [id_col], [("sim", pa.int64())], row) \
        .withColumnRenamed(id_col, "_id")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs (a < b) with hamming(simhash_a, simhash_b) <= max_hamming.

    Combination blocking (Manku/Jain/Sarma, WWW'07 §3): the 60-bit
    sketch splits into 6 10-bit blocks; a pair within hamming h <=
    max_hamming differs in at most h blocks, so it AGREES on at least
    6-h >= (6 - max_hamming) whole blocks, and therefore on at least one
    FIXED combination of m = 6 - max_hamming blocks (pigeonhole over the
    C(6, m) combinations). Blocking on every m-block combination returns
    EXACTLY the brute-force answer — same trick as the reference's
    tree-pruned search guaranteeing the true neighbor is in a visited
    partition (BKTree.h:799-827).

    Scale: the bucket key is m*10 sketch bits — 30 bits at the default
    radius 3 (~10^9 buckets), vs the 8-bit single-block keys of the old
    32-bit/4-block scheme whose N/256 expected bucket size degenerated
    quadratically at 10^8+ docs. Explode factor is C(6, m) rows/doc
    (20 at radius 3) — linear cost buying the quadratic fix.
    """
    # radius 0 is the degenerate single combination (m = 6): blocking
    # on the whole sketch == exact-sketch equality, still lossless
    if not 0 <= max_hamming <= SIMHASH_BLOCKS - 1:
        raise ValueError(
            f"simhash_pairs: max_hamming={max_hamming} is outside "
            f"0..{SIMHASH_BLOCKS - 1}; the {SIMHASH_BLOCKS}-block pigeonhole "
            "covers only those radii")
    from itertools import combinations

    m = SIMHASH_BLOCKS - max_hamming
    block_mask = (1 << _SIMHASH_BLOCK_BITS) - 1
    combos = list(combinations(range(SIMHASH_BLOCKS), m))
    sh = simhash_sketch_arrow(df, id_col, text_col)
    # Key col i of combo c = the c[i]-th block's bits masked IN PLACE
    # (no shift: equality on sim & mask == equality on the block). Raw
    # long key columns, never a concat string — JVM per-row string
    # allocation is the thread-scaling killer (CLAUDE.md rule 13).
    kcols = [f"k{i}" for i in range(m)]
    blocked = sh.select(
        "_id", "sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(ci).alias("cmb"),
                *[
                    F.col("sim").bitwiseAND(F.lit(
                        block_mask << (_SIMHASH_BLOCK_BITS * blk)
                    )).alias(kcols[i])
                    for i, blk in enumerate(combo)
                ],
            )
            for ci, combo in enumerate(combos)
        ])).alias("b"),
    ).select("_id", "sim", "b.cmb", *[f"b.{k}" for k in kcols])
    a, b = blocked.alias("a"), blocked.alias("b")
    cond = (F.col("a.cmb") == F.col("b.cmb")) \
        & (F.col("a._id") < F.col("b._id"))
    for k in kcols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    pairs = (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "sim_a", "sim_b", "hamming")
