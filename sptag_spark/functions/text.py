"""Text-analysis kernels for the documents table.

The training-data-pipeline layer the reference's metadata machinery
implies but never ships (MetadataSet is an opaque byte payload,
AnnService/inc/Core/MetadataSet.h:13-45): tokenization stats, quality
scoring, language-ID heuristics, and document fingerprinting — all as
JVM-side column expressions (whole-stage codegen, zero Python in the hot
path), each with an exact ANSI-SQL twin so the DuckDB oracle can verify
values hash-identically.

Determinism rules (see __spark_entry__ module docstring):
- counts/ratios derive from integer token counts; ratios are single
  double divisions (IEEE-identical across engines);
- hashes use md5 (identical hex in Spark and DuckDB);
- argmax tiebreaks are lexicographic, encoded in the scoring expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker-word sets per language for the n-gram/stopword language-ID
# heuristic. On real corpora these are the classic high-frequency function
# words; the synthetic testdata shares one vocabulary across langs, so the
# heuristic is exercised for mechanics (scoring, argmax, tiebreak), not
# accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "los", "de", "y", "que", "en"),
    "fr": ("le", "la", "les", "des", "et", "est", "une"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# symbols — the standard GPT-2-style pre-split shape.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(text), "\\s+")


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(ws_tokens(text), lambda t: F.array_contains(sw, t)))


def punct_count(text: Column) -> Column:
    """Characters outside [a-zA-Z0-9 and whitespace]."""
    return F.length(text) - F.length(
        F.regexp_replace(text, "[^a-zA-Z0-9\\s]", "")
    )


def text_quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / lexical-diversity quality signals.

    All ratios are one double division over exact integer counts so the
    DuckDB oracle reproduces them bit-for-bit.
    """
    toks = ws_tokens(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = stopword_count(text)
    n_punct = punct_count(text)
    # NULLIF-guarded: empty text has length 0, and under ANSI mode a
    # plain division ERRORS the whole job on the first empty document.
    # punct_ratio (and therefore quality_score) is NULL for empty docs —
    # quality gates treat that as "fails the filter". Mirrored in the
    # SQL oracles with NULLIF(length(text), 0).
    n_chars = F.nullif(F.length(text), F.lit(0))
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda s, t: s + F.length(t)
    )
    return {
        "n_ws_tokens": n.cast("long"),
        "n_bpe_tokens": bpe_token_count(text).cast("long"),
        "n_distinct_tokens": n_distinct.cast("long"),
        "n_stopwords": n_stop.cast("long"),
        "n_punct": n_punct.cast("long"),
        "avg_word_len": sum_word_len.cast("double") / n,
        "distinct_ratio": n_distinct.cast("double") / n,
        "stopword_ratio": n_stop.cast("double") / n,
        "punct_ratio": n_punct.cast("double") / n_chars,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish score: lexical diversity + stopword presence −
    punctuation noise. Weights mirror the C4/Gopher-style heuristic family;
    the exact formula is replicated in the SQL oracle term-for-term."""
    f = text_quality_features(text)
    return (
        f["distinct_ratio"] * F.lit(0.4)
        + f["stopword_ratio"] * F.lit(0.4)
        + (F.lit(1.0) - f["punct_ratio"]) * F.lit(0.2)
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    feats = text_quality_features(t)
    return df.select(
        "*",
        *[c.alias(name) for name, c in feats.items()],
        quality_score(t).alias("quality_score"),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-hit count per candidate language."""
    toks = ws_tokens(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        out[lang] = F.size(
            F.filter(toks, lambda t: F.array_contains(arr, t))
        ).cast("long")
    return out


def lang_guess(text: Column) -> Column:
    """argmax over lang_scores with lexicographic tiebreak; 'und' when no
    marker hits at all (the fasttext-style unknown label)."""
    scores = lang_scores(text)
    # Build max via greatest(); then first lang (sorted) achieving it.
    best = F.greatest(*scores.values())
    guess = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best == 0, F.lit("und")).otherwise(guess)


def with_lang_id_expr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Expression twin of with_lang_id (JVM codegen; kept for the
    bit-identity test and zero-Python deployments). Note the HOF filter
    per language re-evaluates the split — interpreted HOF trees get no
    subexpression elimination — so the Arrow kernel is the hot path."""
    t = F.col(text_col)
    scores = lang_scores(t)
    return df.select(
        "*",
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
        lang_guess(t).alias("lang_guess"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: per-language marker-hit counts + argmax
    guess, fused in ONE Arrow kernel pass (value-identical to
    with_lang_id_expr — tested, incl. NULL/empty/whitespace edge rows).

    The expression form tokenizes ~25x per row: each of the 4 per-lang
    size(filter(split(...))) trees re-evaluates the split (interpreted
    HOFs have no subexpression elimination, CLAUDE.md rule 10), and
    lang_guess re-embeds all 4 scores plus their greatest() once per
    when-branch. The kernel tokenizes once per doc and counts into 4
    frozensets — and Python workers scale across cores where the JVM
    split/string churn flat-lines (rule 13). Measured 7.7 s -> ~0.6 s
    at 50k docs / 32 cores."""
    import pyarrow as pa

    langs = list(LANG_MARKERS)           # insertion order: de, en, es, fr
    marker_sets = [frozenset(LANG_MARKERS[lg]) for lg in langs]
    sorted_idx = [langs.index(lg) for lg in sorted(langs)]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    ) + ", " + ", ".join(f"score_{lg} bigint" for lg in langs) \
        + ", lang_guess string"
    in_names = [f.name for f in df.schema]
    tidx = in_names.index(text_col)
    sorted_langs = sorted(langs)

    def kernel(batches):
        import re

        r_split = re.compile(r"\s+", re.ASCII)
        for batch in batches:
            n_langs = len(marker_sets)
            score_cols: list[list] = [[] for _ in range(n_langs)]
            guesses: list = []
            for txt in batch.column(tidx).to_pylist():
                if txt is None:
                    for c in score_cols:
                        c.append(None)
                    guesses.append("und")
                    continue
                toks = r_split.split(txt.strip(" "))
                scores = [sum(1 for t in toks if t in ms)
                          for ms in marker_sets]
                for c, s in zip(score_cols, scores):
                    c.append(s)
                best = max(scores)
                if best == 0:
                    guesses.append("und")
                else:
                    # lexicographically-first language achieving the max
                    for si, lg in zip(sorted_idx, sorted_langs):
                        if scores[si] == best:
                            guesses.append(lg)
                            break
            yield pa.record_batch(
                list(batch.columns)
                + [pa.array(c, pa.int64()) for c in score_cols]
                + [pa.array(guesses, pa.string())],
                names=in_names + [f"score_{lg}" for lg in langs]
                + ["lang_guess"],
            )

    from sptag_spark.operators.dedup import _ensure_parallel

    return _ensure_parallel(df).mapInArrow(kernel, schema=schema)


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup: lowercase, strip non-alnum, collapse
    whitespace."""
    cleaned = F.regexp_replace(F.lower(text), "[^a-z0-9\\s]", " ")
    return F.trim(F.regexp_replace(cleaned, "\\s+", " "))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the normalized text (the MinHash/Jaccard
    unit). Documents shorter than n words yield their full text as the one
    shingle so no row drops out of the dedup universe.

    Two structural rules keep this O(len) per row:
    - zip_with over shifted slices, NOT transform+element_at: inside a
      transform lambda, element_at(split(...), i) re-evaluates the split
      (and the normalize regexes) per element — O(len^2) per row;
    - the token array is BOUND ONCE via transform over a one-element
      array: this whole expression tree is interpreted (zip_with is a
      higher-order function, and no codegen/subexpression elimination
      applies inside it), so sibling references to `split(normalize(...))`
      from size() + three slice()s each re-ran the normalize regexes —
      measured 42 s -> 10 s on 100k docs / 16 cores from this binding
      alone. A lambda variable is an attribute reference — free. The
      degenerate-row norm is recovered as concat_ws(' ', toks), identical
      to the normalized text because normalize collapses/trims
      whitespace — EXCEPT for NULL text, where concat_ws would coerce the
      null tokens to '' and silently merge NULL-text docs with empty-text
      docs in every dedup; the explicit isNull guard preserves the
      original [null] result (which downstream isnotnull filters drop).
      NOTE the binding trick pays ONLY inside interpreted HOF trees;
      wrapping plain codegen'd projections (e.g. the text-stats columns)
      in transform() FORCES them interpreted and is a large regression —
      measured 40x on with_text_stats."""
    toks_once = F.split(normalize_text(text), " ")

    def build(toks: Column) -> Column:
        k = F.size(toks)
        m = k - (n - 1)  # shingle count
        acc = F.slice(toks, F.lit(1), m)
        for j in range(1, n):
            acc = F.zip_with(
                acc, F.slice(toks, F.lit(j + 1), m),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return F.array_distinct(
            F.when(k >= n, acc).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return F.when(
        text.isNull(), F.array(F.lit(None).cast("string"))
    ).otherwise(F.get(F.transform(F.array(toks_once), build), 0))


def doc_fingerprint(text: Column) -> Column:
    """Full-document content fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


def shingle_min_fingerprint(text: Column, n: int = 3) -> Column:
    """MinHash with one hash function: lexicographic min of per-shingle
    md5s — a locality-sensitive 1-perm sketch of the document."""
    return F.array_min(F.transform(word_shingles(text, n), F.md5))


def near_dup_key(text_col: Column, id_col: Column, n: int = 3) -> Column:
    """The cheap near-dup key: 1-perm shingle MinHash
    (shingle_min_fingerprint). Two exact duplicates always share it (same
    normalized shingle set); two near-duplicates share it with
    probability ~= their Jaccard similarity — the 1-perm MinHash
    collision law, so keying on it is an UNDER-approximation of the
    batch LSH pipeline (never more aggressive than batch at the same n).
    NULL and empty/whitespace-only text both fall back to a per-doc
    sentinel so contentless rows never collapse onto each other (empty
    strings would otherwise all share md5(''))."""
    sentinel = F.concat(F.lit("__null__"), id_col.cast("string"))
    contentless = text_col.isNull() | (F.length(F.trim(text_col)) == 0)
    return F.when(contentless, sentinel).otherwise(
        F.coalesce(shingle_min_fingerprint(text_col, n), sentinel))


def fingerprints_arrow(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text",
    n: int = 3,
) -> "DataFrame":
    """(id, text) -> (id, fp, minhash1): md5 content fingerprint + 1-perm
    shingle MinHash fused in one Python kernel — bit-identical to
    doc_fingerprint/shingle_min_fingerprint (tested char-for-char) and
    it scales: JVM per-shingle md5/string churn flat-lines across threads
    in one JVM (see operators/dedup.py minhash_signature_arrow), while
    Python workers bring process-level allocators. NULL text -> NULL fp
    and NULL minhash1 (md5(null)/min-over-[null] expression semantics)."""
    import pyarrow as pa

    nn = n

    def kernel(batches):
        import hashlib
        import re

        r_punct = re.compile(r"[^a-z0-9\s]", re.ASCII)
        r_ws = re.compile(r"\s+", re.ASCII)
        for batch in batches:
            fps, mins = [], []
            for txt in batch.column("_text").to_pylist():
                if txt is None:
                    fps.append(None)
                    mins.append(None)
                    continue
                nm = r_ws.sub(" ", r_punct.sub(" ", txt.lower())).strip()
                fps.append(hashlib.md5(nm.encode("utf-8")).hexdigest())
                toks = nm.split(" ")
                if len(toks) >= nn:
                    shingles = {
                        " ".join(toks[i:i + nn])
                        for i in range(len(toks) - nn + 1)
                    }
                else:
                    shingles = {nm}
                mins.append(min(
                    hashlib.md5(s.encode("utf-8")).hexdigest()
                    for s in shingles
                ))
            yield pa.record_batch(
                [batch.column("_id"), pa.array(fps, pa.string()),
                 pa.array(mins, pa.string())],
                names=["_id", "fp", "minhash1"],
            )

    from sptag_spark.operators.dedup import _ensure_parallel

    src = _ensure_parallel(df).select(F.col(id_col).alias("_id"),
                                      F.col(text_col).alias("_text"))
    id_type = df.schema[id_col].dataType.simpleString()
    return src.mapInArrow(
        kernel, schema=f"_id {id_type}, fp string, minhash1 string"
    ).withColumnRenamed("_id", id_col)


def doc_fingerprint_arrow(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text",
) -> "DataFrame":
    """(id, text) -> (id, fp): the md5 content fingerprint alone — the
    fp half of fingerprints_arrow without the per-shingle MinHash work.
    Same normalize twin (Python re.ASCII, char-identical to the JVM
    normalize_text — tested), same NULL semantics (NULL text -> NULL
    fp). exact_dedup's hot path: one Python md5 per doc scales across
    cores where the JVM regex+md5 string churn flat-lines (CLAUDE.md
    rule 13)."""
    import pyarrow as pa

    def kernel(batches):
        import hashlib
        import re

        r_punct = re.compile(r"[^a-z0-9\s]", re.ASCII)
        r_ws = re.compile(r"\s+", re.ASCII)
        for batch in batches:
            fps = [
                None if txt is None else hashlib.md5(
                    r_ws.sub(" ", r_punct.sub(" ", txt.lower())).strip()
                    .encode("utf-8")
                ).hexdigest()
                for txt in batch.column("_text").to_pylist()
            ]
            yield pa.record_batch(
                [batch.column("_id"), pa.array(fps, pa.string())],
                names=["_id", "fp"],
            )

    from sptag_spark.operators.dedup import _ensure_parallel

    src = _ensure_parallel(df).select(F.col(id_col).alias("_id"),
                                      F.col(text_col).alias("_text"))
    id_type = df.schema[id_col].dataType.simpleString()
    return src.mapInArrow(
        kernel, schema=f"_id {id_type}, fp string"
    ).withColumnRenamed("_id", id_col)


def with_text_stats_arrow(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Arrow twin of with_text_stats — value-identical (tested: exact
    ints, same-order IEEE double arithmetic, NULL text -> all-NULL stats,
    empty text -> NULL punct_ratio/quality_score) and thread-scalable:
    the JVM split/filter/array churn is the single-JVM scaling
    bottleneck (see operators/dedup.py minhash_signature_arrow).
    Tokenization twins: Java trim == strip(chars <= U+0020); Java \\s ==
    Python re.ASCII \\s; the BPE/punct regexes are ASCII classes."""
    import pyarrow as pa

    stat_fields = (
        "n_ws_tokens bigint, n_bpe_tokens bigint, n_distinct_tokens "
        "bigint, n_stopwords bigint, n_punct bigint, avg_word_len "
        "double, distinct_ratio double, stopword_ratio double, "
        "punct_ratio double, quality_score double"
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    ) + ", " + stat_fields
    sw = frozenset(STOPWORDS)
    in_names = [f.name for f in df.schema]  # plain list: the kernel must
    # not reference `df` (it would drag SparkContext into the closure)
    tidx = in_names.index(text_col)

    def kernel(batches):
        import re

        r_split = re.compile(r"\s+", re.ASCII)
        r_bpe = re.compile(BPE_PATTERN, re.ASCII)
        r_alnum = re.compile(r"[^a-zA-Z0-9\s]", re.ASCII)
        for batch in batches:
            cols = {k: [] for k in (
                "nw", "nb", "nd", "ns", "np", "avg", "dr", "sr", "pr", "q",
            )}
            for txt in batch.column(tidx).to_pylist():
                if txt is None:
                    for k in cols:
                        cols[k].append(None)
                    continue
                toks = r_split.split(txt.strip(" "))
                n = len(toks)
                nd = len(set(toks))
                ns = sum(1 for t in toks if t in sw)
                np_ = len(r_alnum.findall(txt))
                nc = len(txt)
                swl = sum(len(t) for t in toks)
                avg = float(swl) / n
                dr = float(nd) / n
                sr = float(ns) / n
                pr = float(np_) / nc if nc else None
                q = (dr * 0.4 + sr * 0.4 + (1.0 - pr) * 0.2) \
                    if pr is not None else None
                for k, v in (("nw", n), ("nb", len(r_bpe.findall(txt))),
                             ("nd", nd), ("ns", ns), ("np", np_),
                             ("avg", avg), ("dr", dr), ("sr", sr),
                             ("pr", pr), ("q", q)):
                    cols[k].append(v)
            yield pa.record_batch(
                list(batch.columns) + [
                    pa.array(cols["nw"], pa.int64()),
                    pa.array(cols["nb"], pa.int64()),
                    pa.array(cols["nd"], pa.int64()),
                    pa.array(cols["ns"], pa.int64()),
                    pa.array(cols["np"], pa.int64()),
                    pa.array(cols["avg"], pa.float64()),
                    pa.array(cols["dr"], pa.float64()),
                    pa.array(cols["sr"], pa.float64()),
                    pa.array(cols["pr"], pa.float64()),
                    pa.array(cols["q"], pa.float64()),
                ],
                names=in_names + [
                    "n_ws_tokens", "n_bpe_tokens", "n_distinct_tokens",
                    "n_stopwords", "n_punct", "avg_word_len",
                    "distinct_ratio", "stopword_ratio", "punct_ratio",
                    "quality_score",
                ],
            )

    from sptag_spark.operators.dedup import _ensure_parallel

    return _ensure_parallel(df).mapInArrow(kernel, schema=schema)
