"""Streaming vector ingest into a persisted IVF / IVF-PQ index.

The reference's fresh-update layer (SPFresh: foreground append plus
background posting split, ExtraDynamicSearcher.h:637-894) is a hand-rolled
streaming system. Here it is one Structured Streaming foreachBatch sink,
stream_ann_ingest, reached by the ``jobs/ann_index.py ingest`` verb: each
micro-batch runs the batch index lifecycle in operators/knn.py and
operators/ivfpq.py (append, then split), made replay-safe by per-batch
markers under the checkpoint directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ann_ingest_handler(index_path: str, id_col: str, vec_col: str,
                        max_posting_size: int | None, marker_dir: str,
                        is_pq: bool):
    """foreachBatch handler for stream_ann_ingest; module-level so the
    replay-idempotency property is directly testable.

    Replay protocol (foreachBatch is at-least-once): a per-batch marker
    file is written BETWEEN the append and the split, which makes every
    crash window safe —
    * crash during/after append, before marker: the replay re-runs the
      append under an UNCHANGED centroid table (this batch's split has
      not run, and availableNow replays batch N before starting N+1, so
      no other split intervened) — there the (id, bucket) anti-join
      guard (knn.append_postings_rows) is exact and appends only the
      missing rows;
    * crash after marker (before/during/after split): the replay skips
      the append entirely — it can never re-assign the batch against a
      post-split head set, which could otherwise duplicate an id into a
      different bucket — and re-runs the split, which is restartable
      (entry-time swap recovery) and a no-op once postings are within
      the limit.

    Markers live under the CHECKPOINT dir (`marker_dir`), not the index:
    a replay can only happen within one checkpoint's lifetime, batch ids
    restart at 0 under a fresh checkpoint, and index-side markers would
    collide across lifetimes and silently skip real appends. Markers
    below the current batch id are garbage-collected at entry (batch N
    committing in the checkpoint means batches < N can never replay)."""
    import os as _os

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        _os.makedirs(marker_dir, exist_ok=True)
        for stale in _os.listdir(marker_dir):
            # suffix must be all digits: a stray non-marker file (editor
            # backup, partial write) would otherwise ValueError here and
            # permanently fail every subsequent micro-batch
            suffix = stale.split("-", 1)[-1]
            if stale.startswith("batch-") and suffix.isdigit() \
                    and int(suffix) < batch_id:
                _os.unlink(_os.path.join(marker_dir, stale))
        marker = _os.path.join(marker_dir, f"batch-{batch_id}")
        if not _os.path.exists(marker):
            # Within-batch duplicate ids would race the pair guard; the
            # survivor must be DETERMINISTIC (min payload hash per id),
            # not dropDuplicates' arbitrary first-seen row: a replay
            # after a partially committed append that kept a different
            # payload could assign the id a different bucket, and the
            # (id, bucket) anti-join guard would then append a second
            # live copy of the id.
            w = Window.partitionBy(id_col).orderBy(
                F.xxhash64(F.col(vec_col)).asc())
            batch = (
                batch.withColumn("_dup_rn", F.row_number().over(w))
                .filter(F.col("_dup_rn") == 1).drop("_dup_rn")
            )
            if is_pq:
                from sptag_spark.operators.ivfpq import ivf_pq_append

                ivf_pq_append(spark, index_path, batch, id_col=id_col,
                              vec_col=vec_col, idempotent=True)
            else:
                from sptag_spark.operators.knn import ivf_append

                ivf_append(spark, index_path, batch, id_col=id_col,
                           vec_col=vec_col, idempotent=True)
            with open(marker, "w"):
                pass
        if max_posting_size is not None:
            from sptag_spark.operators.knn import ivf_split

            ivf_split(spark, index_path, max_posting_size,
                      id_col=id_col, vec_col=vec_col)

    return handle


def stream_ann_ingest(
    vectors_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_posting_size: int | None = None,
):
    """Streaming vector ingest into a persisted IVF / IVF-PQ index — the
    reference's update-while-search freshness loop (SPFresh: foreground
    append + background posting split, ExtraDynamicSearcher.h:637-894)
    as a Structured Streaming sink. Each micro-batch assigns (and, on a
    composed index, PQ-encodes) against the PINNED heads + codebooks and
    appends only the touched bucket partitions; with `max_posting_size`
    set, over-limit postings are 2-means-split after each batch (new
    heads registered, zero vectors dropped), so posting sizes stay
    bounded under sustained ingest — the lossless alternative to a
    compaction cap.

    Exactly-once EFFECT for Spark's own replays, despite foreachBatch's
    at-least-once invocation: appends run `idempotent=True`
    (knn.append_postings_rows — incoming (id, bucket) assignments
    anti-join the touched bucket partitions, so a partially committed
    batch appends only the rows still missing on replay), and a
    per-batch marker under the CHECKPOINT dir, written between append
    and split, guarantees a replay never re-assigns a batch against a
    post-split head set (see _ann_ingest_handler for the window-by-
    window argument). Scope note for at-least-once PRODUCERS: duplicate
    ids within one micro-batch are dropped, and re-deliveries across
    batches dedupe exactly while the head set is unchanged — a
    re-delivery that straddles a split may land a second live copy (a
    spurious replica; dedupe upstream, e.g. dropDuplicatesWithinWatermark
    on the id, if the source re-sends). Single ingest writer per index
    assumed (Spark's streaming checkpoint enforces one query per
    checkpoint dir); the marker and split machinery are driver-local
    file ops, so — like ivf_split / ivf_compact — streaming ingest
    targets local/NFS index and checkpoint paths (validated here, fail
    fast before any write).

    OPERATIONAL CONSTRAINT (head-set stability across replays): the
    replay-safety argument above assumes the head set is unchanged
    between a pre-marker crash and the restart. Do NOT run CLI/batch
    ivf_split / ivf_merge / ivf_compact against an index whose ingest
    checkpoint holds an uncommitted batch (i.e. between a crashed
    ingest and its restart): evolving the heads there means the
    replayed append re-assigns against a different head set and can
    land a second live copy of an id in a different bucket.
    ivf_reassign IS safe in that window (it pins the head set and
    dedupes per-id copies); otherwise restart the ingest query first
    and let it drain before maintenance."""
    import os

    from sptag_spark.operators.knn import _require_local_index_path

    _require_local_index_path(checkpoint_path, "stream_ann_ingest")
    if max_posting_size is not None:
        _require_local_index_path(index_path, "stream_ann_ingest")
    spark = vectors_stream.sparkSession
    is_pq = "codes" in spark.read.parquet(
        f"{index_path}/postings").columns
    handle = _ann_ingest_handler(
        index_path, id_col, vec_col, max_posting_size,
        marker_dir=os.path.join(checkpoint_path, "_ingest_commits"),
        is_pq=is_pq)
    return (
        vectors_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
