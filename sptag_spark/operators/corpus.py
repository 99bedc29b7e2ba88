"""Corpus-level training-data operators: decontamination, sequence
packing, stratified sampling / mixture weighting, and repetition stats.

These are the dataset-preparation steps a 100-TB LLM pipeline runs after
dedup/quality filtering (the layer the reference's metadata machinery
implies but never ships — its MetadataSet is an opaque payload,
AnnService/inc/Core/MetadataSet.h:13-45). Shingling and the repetition
signal run in Python Arrow kernels on the shared text core of
functions/text.py (the JVM string churn flat-lines across threads,
CLAUDE.md rule 13); the joins, aggregates, packing and sampling are
relational plans. Every operator has an exact ANSI-SQL twin, so the
DuckDB oracle verifies values hash-identically:

- counts/offsets are exact integers; ratios are single double divisions;
- hashes are md5 (identical hex both engines), int64 via the first 8 hex
  chars (the recipe shared with dedup.py / knn.py);
- every window ordering carries a unique tiebreak.

Scale notes are inline per operator; the common theme is that nothing
here shuffles the corpus more than once, benchmark/dimension sides are
broadcast, and the one inherently sequential primitive (global cumulative
sum) is implemented as the classic two-phase blocked scan so no task ever
sees more than one block.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sptag_spark.functions.text import (
    map_texts,
    py_normalize_text,
    py_word_shingles,
    py_ws_tokens,
    ws_tokens,
)


def _md5_key(col: Column, salt: str, denom: int) -> Column:
    """Deterministic per-row sampling key in [0, denom): first 8 md5 hex
    chars of 'salt|id' as int64, mod denom. Stable across retries (pure
    function of the row), identical in DuckDB — the cross-engine analog
    of xxhash64-based sampling (which DuckDB lacks)."""
    h = F.md5(F.concat(F.lit(salt + "|"), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % denom


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def _exploded_shingles_arrow(
    df: DataFrame, id_col: str | None, text_col: str, n: int,
    with_count: bool,
) -> DataFrame:
    """(id, text) -> exploded (_id[, _n_sh], _sh) rows with the
    normalize+shingle work in a Python kernel — char-identical shingle
    strings to word_shingles (same normalize, distinct, degenerate-row
    semantics; NULL text -> one NULL-shingle row like explode_outer of
    [null]) but thread-scalable (the JVM string churn law, see
    dedup.minhash_signature_arrow). id_col=None emits shingle rows with
    no id column at all (corpus-wide vocabulary passes)."""
    def row(text):
        sh = py_word_shingles(py_normalize_text(text), n)
        return [(len(sh), s) for s in sh] if with_count else [(s,) for s in sh]

    fields = ([("_n_sh", pa.int32())] if with_count else []) \
        + [("_sh", pa.string())]
    if id_col is None:
        return map_texts(df, text_col, [], fields, row)
    return map_texts(df, text_col, [id_col], fields, row) \
        .withColumnRenamed(id_col, "_id")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Flag training documents sharing any n-gram with an eval benchmark.

    The standard contamination check (PaLM/GPT-3 style 13-gram overlap,
    here parameterized): a corpus doc is contaminated if any of its
    distinct n-word shingles appears in any benchmark doc. Returns ALL
    corpus docs with
      (doc_id, n_sh, n_hit, n_bench_docs, contamination, is_contaminated)
    where n_hit counts the doc's distinct shingles found anywhere in the
    benchmark, n_bench_docs counts distinct benchmark docs sharing >= 1
    shingle, contamination = n_hit / n_sh.

    Scale: the benchmark side (eval sets — thousands of docs, not
    billions) is aggregated to distinct shingles and BROADCAST; the
    corpus streams through the map-side LEFT join, and the one shuffle
    is the per-doc aggregate over the exploded shingle rows (partial
    aggregation dedupes (doc, shingle, bench-doc) triples before the
    exchange). One corpus scan and one shingle-kernel execution by
    construction.
    """
    # Shingle explosion happens in a Python kernel (char-identical
    # strings to word_shingles, thread-scalable — the JVM string-churn
    # law), and the whole report is ONE linear branch: LEFT-join every
    # exploded shingle row against the broadcast benchmark set, then a
    # single per-doc aggregate (n_sh rides every row; countDistinct
    # ignores the nulls of non-hit rows). One kernel execution and one
    # corpus scan BY CONSTRUCTION — an earlier two-branch shape (hits +
    # base) re-ran the kernel because a ReusedExchange inside one
    # branch's subtree broke canonical equality of the parent exchanges.
    c_sh = _exploded_shingles_arrow(
        corpus, id_col, text_col, n, with_count=True
    )
    b_sh = _exploded_shingles_arrow(
        benchmark, bench_id_col, bench_text_col, n, with_count=False
    ).select(F.col("_id").alias("_bid"), "_sh").distinct()
    per_doc = (
        c_sh.join(F.broadcast(b_sh), "_sh", "left")
        .groupBy("_id")
        .agg(
            F.first("_n_sh").alias("n_sh"),
            F.countDistinct(
                F.when(F.col("_bid").isNotNull(), F.col("_sh"))
            ).alias("n_hit"),
            F.countDistinct("_bid").alias("n_bench_docs"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.col("n_sh").cast("long").alias("n_sh"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_bench_docs").cast("long").alias("n_bench_docs"),
    ).withColumn(
        "contamination",
        F.col("n_hit").cast("double") / F.col("n_sh"),
    ).withColumn(
        "is_contaminated", (F.col("n_hit") > 0).cast("int")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

def pack_chunks(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    group_col: str | None = "source",
    order_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and cut the token stream at `capacity`
    boundaries. Emits one row per (document, chunk) span:

      (group, doc_id, chunk_id, tok_begin, tok_end, pos_in_chunk)

    where [tok_begin, tok_end) are token indices WITHIN the document
    (a doc longer than capacity spans several chunks; a chunk usually
    holds several docs) and pos_in_chunk is the document's start offset
    inside the chunk. All integers — exactly reproducible.

    Documents with 0 tokens are dropped (they occupy no span).

    Scale: the cumulative sum is a window per `group_col` (shard/source),
    so packing parallelizes across groups exactly like production packers
    shard their corpora. For a single global stream use
    `blocked_cumsum` + `pack_chunks_from_offsets` — no group ever needs
    to fit one task. Everything downstream of the cumsum is per-row math
    plus one explode (sequence of spanned chunk ids), no further shuffle.
    """
    order = order_col or id_col
    gcols = [group_col] if group_col else []
    w = Window.partitionBy(*gcols).orderBy(F.col(order), F.col(id_col))
    toks = F.col(tokens_col).cast("long")
    df = df.filter(toks >= 1)
    off = df.select(
        *gcols, F.col(id_col), toks.alias("_toks"),
        (F.sum(toks).over(w) - toks).alias("_start"),
    )
    return pack_chunks_from_offsets(
        off, capacity, id_col=id_col, tokens_col="_toks",
        start_col="_start", group_cols=gcols,
    )


def pack_chunks_from_offsets(
    off: DataFrame,
    capacity: int,
    id_col: str,
    tokens_col: str,
    start_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Chunk-span emission given precomputed start offsets (shared tail of
    the windowed and blocked-cumsum packing paths)."""
    cap = F.lit(int(capacity)).cast("long")
    start = F.col(start_col)
    end = start + F.col(tokens_col)
    # floor(long/long) goes through double division — exact while offsets
    # stay under 2^53 tokens per pack stream (9e15; a 100-TB corpus is
    # ~1e14), mirrored by integer // in the oracle.
    first_c = F.floor(start / cap)
    last_c = F.floor((end - F.lit(1)) / cap)
    spans = off.select(
        *group_cols, F.col(id_col), F.col(tokens_col).alias("_toks"),
        start.alias("_start"),
        F.explode(F.sequence(first_c, last_c)).alias("chunk_id"),
    )
    chunk_begin = F.col("chunk_id") * cap
    chunk_end = chunk_begin + cap
    return spans.select(
        *group_cols,
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.greatest(chunk_begin - F.col("_start"), F.lit(0).cast("long"))
        .alias("tok_begin"),
        F.least(chunk_end - F.col("_start"), F.col("_toks"))
        .alias("tok_end"),
        F.greatest(F.col("_start") - chunk_begin, F.lit(0).cast("long"))
        .alias("pos_in_chunk"),
    )


def blocked_cumsum(
    df: DataFrame,
    value_col: str,
    block_col: Column,
    order_col: str,
) -> DataFrame:
    """Distributed exclusive cumulative sum (two-phase blocked scan).

    The naive global cumsum is `sum().over(Window.orderBy(...))` — ONE
    partition holding the entire corpus, the classic scale-killer. This
    is the textbook fix (the GPU-scan / Blelloch shape, relationally):

      phase 1: per-block totals (one map-side-combinable groupBy over
               #blocks keys — tiny result);
      phase 2: running offset across blocks (a window over #blocks rows —
               thousands, not billions — then BROADCAST back);
      phase 3: within-block cumsum (window partitioned by block, so every
               task sees exactly one block).

    `block_col` must be a deterministic pure function of the row (e.g.
    floor(doc_id / 10_000)) so retries re-derive identical blocks.
    Returns df + `_start` = exclusive global cumsum of value_col in
    (block, order) order.
    """
    v = F.col(value_col).cast("long")
    d = df.withColumn("_blk", block_col)
    totals = d.groupBy("_blk").agg(F.sum(v).alias("_tot"))
    # single-task window BY DESIGN: it runs over #blocks rows (thousands),
    # not the corpus; partitionBy(lit(0)) states that intent and keeps the
    # "no partition defined" warning out of the logs
    offsets = totals.select(
        "_blk",
        (F.sum("_tot").over(
            Window.partitionBy(F.lit(0)).orderBy("_blk")
        ) - F.col("_tot")).alias("_blk_off"),
    )
    w = Window.partitionBy("_blk").orderBy(F.col(order_col))
    return (
        d.join(F.broadcast(offsets), "_blk")
        .withColumn(
            "_start", F.col("_blk_off") + F.sum(v).over(w) - v
        )
        .drop("_blk", "_blk_off")
    )


def pack_chunks_global(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    block_width: int = 10_000,
) -> DataFrame:
    """Global (single-stream) packing via the blocked cumsum. `id_col`
    must be numeric; blocks are floor(id / block_width) so block
    assignment is a pure row function. Output schema matches
    `pack_chunks` minus the group column."""
    d = df.filter(F.col(tokens_col).cast("long") >= 1)
    off = blocked_cumsum(
        d.select(F.col(id_col), F.col(tokens_col).cast("long").alias("_toks")),
        "_toks",
        F.floor(F.col(id_col) / F.lit(block_width)).cast("long"),
        id_col,
    )
    return pack_chunks_from_offsets(
        off, capacity, id_col=id_col, tokens_col="_toks",
        start_col="_start", group_cols=[],
    )


# ---------------------------------------------------------------------------
# Stratified sampling / mixture weighting
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    denom: int = 1000,
    default_rate: int = 0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    md5-key(id) mod denom < rates[stratum] (per-mille by default).

    Hash-based (not rand()) so the sample is reproducible, stable under
    retries, and consistent across engines — the property a 100-TB
    pipeline needs to re-materialize the identical mixture twice.

    Scale: pure map-side filter — zero shuffle, predicate evaluated in
    the scan. The rates map is inlined as a literal CASE (fine for the
    ~10^2 sources of real mixtures; beyond that, broadcast-join a rates
    dimension instead).
    """
    key = _md5_key(F.col(id_col), salt, denom)
    rate: Column = F.lit(int(default_rate))
    for s in sorted(rates):
        rate = F.when(F.col(strata_col) == s, F.lit(int(rates[s]))) \
            .otherwise(rate)
    return (
        df.withColumn("sample_key", key)
        .withColumn("sample_rate", rate.cast("long"))
        .filter(F.col("sample_key") < F.col("sample_rate"))
    )


def weighted_mix(
    df: DataFrame,
    weights: dict[str, int],
    strata_col: str = "source",
    id_col: str = "doc_id",
    denom: int = 1000,
    salt: str = "mixcopy",
    default_weight: int = 0,
) -> DataFrame:
    """Mixture weighting with UPsampling: weight w (per-mille) > denom
    means every row appears floor(w/denom) times plus one more with
    probability (w mod denom)/denom — the 'epochs per source' knob of
    LLM data recipes (e.g. Wikipedia x3.4, CommonCrawl x0.6).

    Emits rows with copy_idx in [0, n_copies). The fractional-copy coin
    deliberately uses a DIFFERENT default salt ('mixcopy') from
    `stratified_sample`'s ('mix'): with a shared salt, composing
    sample-then-mix perfectly correlates the survival filter with the
    extra-copy coin (every survivor of rate r <= w%denom gets the extra
    copy, inflating the effective weight). A source at weight == denom
    is byte-identical to the unsampled source under ANY salt
    (w % denom == 0 makes the coin irrelevant).

    Scale: map-side only — explode(sequence(...)) generates copies in the
    scan task; no shuffle. Duplicated rows get distinct copy_idx so a
    downstream global shuffle (e.g. pack ordering) separates them.

    Sources absent from `weights` get `default_weight` (default 0 =
    dropped — pass denom to keep them at identity).
    """
    key = _md5_key(F.col(id_col), salt, denom)
    w: Column = F.lit(int(default_weight))
    for s in sorted(weights):
        w = F.when(F.col(strata_col) == s, F.lit(int(weights[s]))) \
            .otherwise(w)
    n_copies = (
        F.floor(w / F.lit(denom)).cast("long")
        + (key < (w % F.lit(denom))).cast("long")
    )
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") >= 1)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.col("_n_copies") - 1)),
        )
        .drop("_n_copies")
    )


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style quality signal)
# ---------------------------------------------------------------------------

def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals (the Gopher 'repetition removal'
    family, Rae et al. 2021 §A1.1): fraction of the document covered by
    its single most frequent word bigram. Returns
      (doc_id, n_bigrams, top_bigram, top_count, rep_ratio)
    with rep_ratio = top_count / n_bigrams. Tiebreak on equal counts is
    lexicographic-smallest bigram (unique, mirrored in the oracle).

    One fused Python kernel, value-identical to the relational form
    _repetition_stats_relational (tested) and thread-scalable: the bigram
    explode + string groupBy churns JVM strings, which flat-lines across
    threads in one JVM (see dedup.minhash_signature_arrow). Tokenization
    is py_ws_tokens (Spark's trim strips spaces only); the argmax
    tiebreak min((-count, bigram)) is the oracle's row_number ordering;
    rep_ratio is one float division (IEEE-identical to Spark's)."""
    def row(text):
        toks = py_ws_tokens(text)
        if toks is None:
            # relational twin: bigrams = [trim(null)] = [null]; groupBy
            # counts the null group
            return [(1, None, 1, 1.0)]
        # one token: the trimmed text itself is the one "bigram"
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])] or toks
        neg, top = min((-c, g) for g, c in Counter(bigrams).items())
        return [(len(bigrams), top, -neg, -neg / len(bigrams))]

    return map_texts(
        df, text_col, [id_col],
        [("n_bigrams", pa.int64()), ("top_bigram", pa.string()),
         ("top_count", pa.int64()), ("rep_ratio", pa.float64())],
        row,
    )


def _repetition_stats_relational(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The relational form of repetition_stats, the reference its kernel
    is tested against: the same columns and values.

    Scale: explode + two map-side-combinable aggregations keyed by
    (doc, bigram) then doc — partial aggregation absorbs the blowup
    before the shuffle, and no state beyond one doc's bigram counts ever
    co-resides."""
    toks = ws_tokens(F.col(text_col))
    m = F.size(toks) - 1
    bigrams = F.when(
        m >= 1,
        F.zip_with(
            F.slice(toks, F.lit(1), m),
            F.slice(toks, F.lit(2), m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array(F.trim(F.col(text_col))))
    # explode_outer: see contamination_report — avoids the inferred
    # pre-Generate filter re-evaluating the zip_with bigram expression
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(bigrams).alias("_bg"),
    )
    counts = ex.groupBy("_id", "_bg").agg(F.count(F.lit(1)).alias("_c"))
    # argmax with min-bigram tiebreak as ONE aggregation: min over
    # struct(-count, bigram) is lexicographic — highest count first,
    # lexicographically smallest bigram on ties. Same values as the
    # oracle's row_number() window, one shuffle + sort + join cheaper.
    top = counts.groupBy("_id").agg(
        F.min(F.struct((-F.col("_c")).alias("_negc"),
                       F.col("_bg"))).alias("_top"),
        F.sum("_c").alias("n_bigrams"),
    )
    return top.select(
        F.col("_id").alias(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("_top._bg").alias("top_bigram"),
        (-F.col("_top._negc")).cast("long").alias("top_count"),
        ((-F.col("_top._negc")).cast("double") / F.col("n_bigrams"))
        .alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram analytics
# ---------------------------------------------------------------------------

def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k n-grams by document frequency (the vocabulary /
    Zipf analytics pass of a corpus audit; also what seeds a stop-phrase
    list for the dedup df-cap). Returns (ngram, df_docs, rank), with rank
    ties broken lexicographically.

    Scale: explode + one map-side-combinable aggregate keyed by the
    shingle (partial counts absorb the corpus before the shuffle), then
    TakeOrdered for the global top-k (never a single-partition window).

    Shingling runs in the Arrow kernel (_exploded_shingles_arrow —
    char-identical strings to the word_shingles expression, incl. the
    degenerate-row and NULL semantics): the JVM normalize+shingle string
    churn flat-lines across threads in one JVM (CLAUDE.md rule 13),
    while Python workers scale ~1.0.
    """
    sh = _exploded_shingles_arrow(
        df, None, text_col, n, with_count=False,
    ).select(F.col("_sh").alias("ngram")).filter(F.col("ngram").isNotNull())
    # null-text docs yield one NULL-shingle row (the explode_outer
    # twin's semantics) — drop them before the count so a NULL never
    # reaches the top-k tie boundary, where Spark's NULLS-FIRST ASC
    # would diverge from the oracle's NULLS-LAST default.
    counts = sh.groupBy("ngram").agg(F.count(F.lit(1)).alias("df_docs"))
    from sptag_spark.operators.topk import global_top_k

    top = global_top_k(
        counts, [F.col("df_docs").desc(), F.col("ngram").asc()], k
    )
    return top.withColumn(
        "rank",
        F.row_number().over(
            # post-limit window over k rows — driver-scale by design
            Window.partitionBy(F.lit(0)).orderBy(
                F.col("df_docs").desc(), F.col("ngram").asc()
            )
        ).cast("int"),
    )
