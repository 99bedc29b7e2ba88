"""spark-submit entry point: ANN index lifecycle CLI.

    spark-submit --py-files sptag_spark.zip jobs/ann_index.py build \
        --in /data/embeddings.parquet --index /data/idx \
        [--type ivf|ivf_pq|bkt] [--centroids 1024] [--m 8] [--k-codes 16] \
        [--branch 8] [--leaf-max 256] [--root-sample 200000]
    ... ann_index.py append  --in /data/new.parquet --index /data/idx
    ... ann_index.py delete  --keys /data/deleted.parquet --index /data/idx
    ... ann_index.py compact --index /data/idx [--max-posting-size N]
    ... ann_index.py split   --index /data/idx --max-posting-size N
    ... ann_index.py merge   --index /data/idx --min-posting-size N
    ... ann_index.py reassign --index /data/idx
    ... ann_index.py ingest  --in /data/stream_dir --index /data/idx \
        --checkpoint /data/ckpt [--max-posting-size N] \
        [--max-files-per-trigger 1]
    ... ann_index.py search  --index /data/idx --queries /data/q.parquet \
        --out /data/results.parquet [--k 10] [--nprobe 8] [--rerank 64] \
        [--driver-probe-limit N] [--max-dist-ratio R] \
        [--probe-scratch-dir DIR]

`build --replica-count R` multi-assigns each vector to up to R
RNG-pruned head postings (the reference's ReplicaCount closure);
`split` evolves the head set by 2-means-splitting over-limit postings
(lossless; `compact --max-posting-size` is the lossy distance-ordered
cap); `merge` retires under-limit heads and folds their rows into the
nearest surviving postings (the SPFresh merge-on-underflow);
`reassign` re-derives every live vector's placement against the
current head set (the batch form of SPFresh ReassignAsync — after it,
the index exactly equals a pinned-heads rebuild); `ingest`
drains a parquet-directory STREAM into the index via Structured
Streaming (streaming.jobs.stream_ann_ingest — replay-safe appends, and
with --max-posting-size the SPFresh update-while-search loop: postings
stay bounded under sustained ingest, checkpointed exactly-once).

CAUTION — maintenance vs. a crashed ingest: do not run `split`,
`merge`, or `compact` on an index whose ingest checkpoint holds an
uncommitted batch (a crashed `ingest` that has not been restarted);
evolving the head set there can make the replayed append duplicate ids
into different buckets. `reassign` is safe in that window (pinned
heads, per-id dedupe). Restart and drain the ingest first — see
streaming.jobs.stream_ann_ingest's operational-constraint note.

The CLI surface of the reference's IndexBuilder + SSDServing mains
(AnnService/src/IndexBuilder/main.cpp:1-150, SSDServing/main.cpp) over
the engine's persisted bucketed-postings layout: build once, then
append/delete/compact incrementally and probe with partition pruning.
`search` auto-detects the index flavor (a codebooks table means ivf_pq:
ADC-scored pruned scan + exact re-rank). Emits ONE JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--in", dest="inp", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--type", default="ivf_pq",
                   choices=["ivf", "ivf_pq", "bkt"])
    b.add_argument("--centroids", type=int, default=256)
    b.add_argument("--m", type=int, default=8)
    b.add_argument("--k-codes", type=int, default=16)
    b.add_argument("--replica-count", type=int, default=1)
    b.add_argument("--branch", type=int, default=8)
    b.add_argument("--leaf-max", type=int, default=256)
    b.add_argument("--root-sample", type=int, default=0,
                   help="bkt only: fit the root k-means on a "
                        "deterministic sample of ~N rows (enable on "
                        "large corpora; 0 = full-corpus fit)")

    a = sub.add_parser("append")
    a.add_argument("--in", dest="inp", required=True)
    a.add_argument("--index", required=True)

    d = sub.add_parser("delete")
    d.add_argument("--keys", required=True)
    d.add_argument("--index", required=True)

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)
    c.add_argument("--max-posting-size", type=int, default=None)

    sp = sub.add_parser("split")
    sp.add_argument("--index", required=True)
    sp.add_argument("--max-posting-size", type=int, required=True)

    mg = sub.add_parser("merge")
    mg.add_argument("--index", required=True)
    mg.add_argument("--min-posting-size", type=int, required=True)

    ra = sub.add_parser("reassign")
    ra.add_argument("--index", required=True)

    ig = sub.add_parser("ingest")
    ig.add_argument("--in", dest="inp", required=True)
    ig.add_argument("--index", required=True)
    ig.add_argument("--checkpoint", required=True)
    ig.add_argument("--max-posting-size", type=int, default=None)
    ig.add_argument("--max-files-per-trigger", type=int, default=1)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--nprobe", type=int, default=8)
    s.add_argument("--rerank", type=int, default=64)
    s.add_argument("--driver-probe-limit", type=int, default=10_000,
                   help="query batches up to N rows select probes on "
                        "the driver (static bucket IN pruning); larger "
                        "ones run as an executor-side wave (side table "
                        "+ dynamic partition pruning). 0 = always wave")
    s.add_argument("--max-dist-ratio", type=float, default=None)
    s.add_argument("--probe-scratch-dir", default=None)
    s.add_argument("--max-check", type=int, default=None,
                   help="Relaxed-Monotonicity posting-row budget per "
                        "query (the reference's p_maxCheck): probes are "
                        "budget-selected instead of top-nprobe, and "
                        "results carry a relaxed_mono flag. flat-ivf "
                        "and bkt indexes only.")

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from sptag_spark.operators import ivfpq
    from sptag_spark.operators import knn

    spark = SparkSession.builder.appName(f"ann_index_{args.cmd}") \
        .config("spark.sql.execution.arrow.pyspark.enabled", "true") \
        .getOrCreate()
    t0 = time.time()
    metrics: dict = {"job": f"ann_index_{args.cmd}", "index": args.index}

    def _is_pq(path: str) -> bool:
        # only a MISSING codebooks table means "flat ivf" — a transient
        # IO error must not silently reroute an ivf_pq index through the
        # code-less append/probe path
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            spark.read.parquet(f"{path}/codebooks")
            return True
        except AnalysisException:
            return False

    def _is_bkt(path: str) -> bool:
        return knn.read_index_meta(spark, path).get("index_type") == "bkt"

    if args.cmd == "build":
        emb = spark.read.parquet(args.inp)
        if args.type == "ivf_pq":
            ivfpq.ivf_pq_build(emb, n_centroids=args.centroids,
                               path=args.index, m=args.m,
                               k_codes=args.k_codes,
                               replica_count=args.replica_count)
        elif args.type == "bkt":
            if args.replica_count != 1:
                print(json.dumps({"error": "--replica-count is not "
                                  "supported for --type bkt (single-"
                                  "assignment tree index)"}))
                spark.stop()
                return 2
            from sptag_spark.operators import bkt

            bkt.bkt_build(emb, args.index, branch=args.branch,
                          leaf_max=args.leaf_max,
                          root_sample=args.root_sample)
        else:
            knn.ivf_build(emb, n_centroids=args.centroids, path=args.index,
                          replica_count=args.replica_count)
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
        metrics["type"] = args.type
    elif args.cmd == "append":
        vec = spark.read.parquet(args.inp)
        if _is_pq(args.index):
            ivfpq.ivf_pq_append(spark, args.index, vec)
        else:
            knn.ivf_append(spark, args.index, vec)
        metrics["appended"] = vec.count()
    elif args.cmd == "delete":
        keys = spark.read.parquet(args.keys)
        knn.ivf_delete(spark, args.index, keys)
        metrics["tombstoned"] = keys.count()
    elif args.cmd == "compact":
        knn.ivf_compact(spark, args.index,
                        max_posting_size=args.max_posting_size)
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
    elif args.cmd == "split":
        metrics["splits"] = knn.ivf_split(
            spark, args.index, max_posting_size=args.max_posting_size)
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
        metrics["heads"] = spark.read.parquet(
            f"{args.index}/centroids").count()
    elif args.cmd == "merge":
        metrics["merged"] = knn.ivf_merge(
            spark, args.index, min_posting_size=args.min_posting_size)
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
        metrics["heads"] = spark.read.parquet(
            f"{args.index}/centroids").count()
    elif args.cmd == "reassign":
        if _is_bkt(args.index):
            # ivf_reassign re-places every row by flat nearest-head,
            # silently desynchronizing bucket contents from the tree's
            # greedy descent: probes stay correct at full coverage but
            # low-nprobe recall and the leaf_max bound degrade. Reject,
            # like search's unsupported flags; a rebuild restores tree
            # routing quality.
            print(json.dumps({"error": "reassign is not supported for "
                              "bkt indexes (flat nearest-head placement "
                              "desynchronizes bucket contents from the "
                              "tree descent; rebuild with "
                              "`build --type bkt` instead)"}))
            spark.stop()
            return 2
        metrics["moved"] = knn.ivf_reassign(spark, args.index)
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
    elif args.cmd == "ingest":
        from sptag_spark.streaming.jobs import stream_ann_ingest

        def _live_ids() -> int:
            # distinct LIVE vectors — invariant to replica fan-out and
            # to splits folding tombstoned rows mid-run, unlike a raw
            # postings-row delta
            return knn.read_postings(spark, args.index) \
                .select("vec_id").distinct().count()

        before = _live_ids()
        schema = spark.read.parquet(args.inp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", args.max_files_per_trigger)
            .parquet(args.inp)
        )
        stream_ann_ingest(
            stream, args.index, args.checkpoint,
            max_posting_size=args.max_posting_size,
        ).awaitTermination()
        metrics["ingested"] = _live_ids() - before
        metrics["rows"] = spark.read.parquet(
            f"{args.index}/postings").count()
        metrics["heads"] = spark.read.parquet(
            f"{args.index}/centroids").count()
    elif args.cmd == "search":
        q = spark.read.parquet(args.queries)
        if args.max_check is not None:
            # budgeted (Relaxed-Monotonicity) search: the query-frame
            # cursor — budget walk per query (flat sort or SPTQueue
            # tree descent by index_type), pruned scan, relaxed_mono
            # flags. ADC codes don't carry exact vectors, so pq indexes
            # are rejected like other unsupported flag combinations.
            if _is_pq(args.index) or args.max_dist_ratio is not None:
                print(json.dumps({"error": "--max-check is not "
                                  "supported for ivf_pq indexes (the "
                                  "budgeted cursor re-ranks exact "
                                  "vectors; use a flat or bkt index) "
                                  "and does not combine with "
                                  "--max-dist-ratio (pass a predicate "
                                  "at the library surface instead)"}))
                spark.stop()
                return 2
            res = knn.relaxed_mono_topk_batch(
                spark, args.index, q, k=args.k,
                max_check=args.max_check,
                driver_probe_limit=args.driver_probe_limit,
                probe_scratch_dir=args.probe_scratch_dir)
        elif _is_pq(args.index):
            res = ivfpq.ivf_pq_probe(
                spark, args.index, q, k=args.k, nprobe=args.nprobe,
                rerank=args.rerank,
                driver_probe_limit=args.driver_probe_limit,
                max_dist_ratio=args.max_dist_ratio,
                probe_scratch_dir=args.probe_scratch_dir)
        elif _is_bkt(args.index):
            if args.max_dist_ratio is not None:
                print(json.dumps({"error": "--max-dist-ratio is not "
                                  "supported for bkt indexes (tree "
                                  "descent selects heads)"}))
                spark.stop()
                return 2
            from sptag_spark.operators import bkt

            res = bkt.bkt_probe(spark, args.index, q, k=args.k,
                                nprobe=args.nprobe,
                                driver_probe_limit=args.driver_probe_limit,
                                probe_scratch_dir=args.probe_scratch_dir)
        else:
            res = knn.ivf_probe(spark, args.index, q, k=args.k,
                                nprobe=args.nprobe,
                                driver_probe_limit=args.driver_probe_limit,
                                max_dist_ratio=args.max_dist_ratio,
                                probe_scratch_dir=args.probe_scratch_dir)
        res.write.mode("overwrite").parquet(args.out)
        # wave probes land in a transient side table (under the
        # index, or --probe-scratch-dir for read-only indexes); results
        # are materialized now, so clean it (best-effort — ivf_compact
        # is the other janitor)
        knn.cleanup_probe_tables(args.probe_scratch_dir or args.index)
        out = spark.read.parquet(args.out)
        metrics["results"] = out.count()
        metrics["queries"] = out.select("query_id").distinct().count()

    metrics["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
