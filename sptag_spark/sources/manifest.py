"""Per-partition lineage manifests + resumable bucketed jobs.

The reference checkpoints by quiescing and flushing component files
(SPANN/Index.h:256-281) and resumes batch builds from saved selections
(ExtraStaticSearcher.h:35-66 SaveBatch/LoadBatch). The Spark-native
equivalent: split the job into hash buckets of the entity key, write each
bucket's output + a manifest record (bucket id, row count, min/max ts,
order-insensitive digest — reference F11 checksum / A9 stat counters),
and on restart skip every bucket already present in the manifest. Each
record also carries the bucket layout (key, n_buckets); a restart under a
different layout raises ManifestLayoutError instead of mixing buckets cut
two ways.

The bucket filter ``pmod(xxhash64(key), n) == b`` is not a predicate
parquet can push down, so every bucket job scans the whole source
(perfbench traces ``manifest.scan_amplification`` at exactly the bucket
count). A resume skips completed buckets, but each remaining bucket still
reads their rows. Staging the bucketed source once is ROADMAP item 6.

At cluster scale each bucket is itself a distributed job over many tasks;
bucket count is a checkpoint granularity knob, not a parallelism limit.

The digest is BIT_XOR over per-row xxhash64 of the canonicalized row —
order-insensitive and overflow-free, so it is invariant to task scheduling
and AQE re-planning.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.sources.tables import read_parquet

BUCKET_COL = "__bucket"


def with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def digest_frame(df: DataFrame, ts_col: str | None = None) -> dict:
    """Compute (n_rows, digest, min/max ts) in one aggregation pass."""
    hashed = df.withColumn(
        "__row_hash",
        F.xxhash64(*[
            F.coalesce(F.col(c).cast("string"), F.lit("\0NULL"))
            for c in df.columns
        ]),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(__row_hash)").alias("digest"),
    ]
    if ts_col:
        aggs += [
            F.min(ts_col).cast("string").alias("min_ts"),
            F.max(ts_col).cast("string").alias("max_ts"),
        ]
    row = hashed.agg(*aggs).collect()[0].asDict()
    if row["digest"] is None:  # empty frame
        row["digest"] = 0
    return row


class ManifestLayoutError(ValueError):
    """A resume found buckets committed under another (key, n_buckets)."""


class Manifest:
    """JSON-file manifest: one record per completed bucket."""

    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def done_buckets(self) -> set[int]:
        out = set()
        for f in os.listdir(self.dir):
            if f.startswith("bucket-") and f.endswith(".json"):
                out.add(int(f[len("bucket-"):-len(".json")]))
        return out

    def record(self, bucket: int, stats: dict) -> None:
        path = os.path.join(self.dir, f"bucket-{bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"bucket": bucket, "completed_at": time.time(), **stats}, fh)
        os.replace(tmp, path)  # atomic commit, crash-safe

    def read(self) -> list[dict]:
        out = []
        for b in sorted(self.done_buckets()):
            with open(os.path.join(self.dir, f"bucket-{b}.json")) as fh:
                out.append(json.load(fh))
        return out

    def combined_digest(self) -> int:
        d = 0
        for rec in self.read():
            d ^= int(rec["digest"])
        return d


def run_resumable(
    spark: SparkSession,
    source: Callable[[SparkSession], DataFrame],
    process: Callable[[DataFrame], DataFrame],
    out_dir: str,
    key: str,
    n_buckets: int = 16,
    ts_col: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Run ``process`` over each hash bucket of ``source``, writing
    ``out_dir/data/bucket=N`` + manifest per bucket; skip completed
    buckets on rerun. ``fail_after`` injects a crash after N buckets
    (for resume tests). Raises ManifestLayoutError when ``out_dir`` holds
    buckets committed under another ``key`` or ``n_buckets``. Returns
    summary stats."""
    manifest = Manifest(out_dir)
    for rec in manifest.read():
        if (rec.get("key"), rec.get("n_buckets")) != (key, n_buckets) \
                or rec["bucket"] >= n_buckets:
            raise ManifestLayoutError(
                f"{manifest.dir}: bucket {rec['bucket']} was committed with "
                f"key={rec.get('key')!r}, n_buckets={rec.get('n_buckets')}; "
                f"this run asks for key={key!r}, n_buckets={n_buckets}. "
                "Resume with the recorded layout or use a fresh out_dir.")
    done = manifest.done_buckets()
    src = with_bucket(source(spark), key, n_buckets)
    completed_now = 0
    for b in range(n_buckets):
        if b in done:
            continue
        if fail_after is not None and completed_now >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
        part = src.filter(F.col(BUCKET_COL) == b).drop(BUCKET_COL)
        result = process(part)
        path = os.path.join(out_dir, "data", f"bucket={b}")
        result.write.mode("overwrite").parquet(path)
        stats = digest_frame(read_parquet(spark, path), ts_col=ts_col)
        manifest.record(b, {**stats, "key": key, "n_buckets": n_buckets})
        completed_now += 1
    recs = manifest.read()
    return {
        "n_buckets": n_buckets,
        "buckets_done": len(recs),
        "rows": sum(r["n_rows"] for r in recs),
        "digest": manifest.combined_digest(),
    }
