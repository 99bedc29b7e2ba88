"""Text-analysis functions for the documents table.

The training-data-pipeline layer the reference's metadata machinery
implies but never ships (MetadataSet is an opaque byte payload,
AnnService/inc/Core/MetadataSet.h:13-45): tokenization stats, quality
scoring, language-ID heuristics, and the normalize/shingle rules that
document fingerprinting and dedup are built on. Each rule exists twice,
side by side in this module:

- as a JVM column expression (`normalize_text`, `word_shingles`,
  `ws_tokens` and the features built on them), which the contract's
  DuckDB oracles mirror term for term and which tests compare every
  kernel against;
- as a Python twin (`py_normalize_text`, `py_word_shingles`,
  `py_ws_tokens`), which every Arrow kernel calls through `map_texts`.
  The kernels are the hot paths: per-row string work flat-lines across
  threads in one JVM, while Python workers scale across cores
  (CLAUDE.md rule 13).

Determinism rules (see __spark_entry__ module docstring):
- counts/ratios derive from integer token counts; ratios are single
  double divisions (IEEE-identical across engines);
- hashes use md5 (identical hex in Spark and DuckDB);
- argmax tiebreaks are lexicographic, encoded in the scoring expression.
"""

from __future__ import annotations

import hashlib
import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

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
PUNCT_PATTERN = "[^a-zA-Z0-9\\s]"
# Java's \s without UNICODE_CHARACTER_CLASS is the ASCII set [ \t\n\x0b\f\r],
# the same set as Python's \s under re.ASCII: the Python twins compile
# these patterns with re.ASCII.
WS_PATTERN = "\\s+"
NON_NORM_PATTERN = "[^a-z0-9\\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(text), WS_PATTERN)


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(ws_tokens(text), lambda t: F.array_contains(sw, t)))


def punct_count(text: Column) -> Column:
    """Characters outside [a-zA-Z0-9 and whitespace]."""
    return F.length(text) - F.length(
        F.regexp_replace(text, PUNCT_PATTERN, "")
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
    langs = list(LANG_MARKERS)           # insertion order: de, en, es, fr
    marker_sets = [frozenset(LANG_MARKERS[lg]) for lg in langs]
    by_name = sorted(range(len(langs)), key=langs.__getitem__)

    def row(text):
        toks = py_ws_tokens(text)
        if toks is None:
            return [(*[None] * len(langs), "und")]
        scores = [sum(t in ms for t in toks) for ms in marker_sets]
        best = max(scores)
        # lexicographically-first language achieving the max
        guess = next(langs[i] for i in by_name if scores[i] == best) \
            if best else "und"
        return [(*scores, guess)]

    return map_texts(
        df, text_col, df.columns,
        [(f"score_{lg}", pa.int64()) for lg in langs]
        + [("lang_guess", pa.string())],
        row,
    )


def normalize_text(text: Column) -> Column:
    """Canonical form for dedup: lowercase, strip non-alnum, collapse
    whitespace."""
    cleaned = F.regexp_replace(F.lower(text), NON_NORM_PATTERN, " ")
    return F.trim(F.regexp_replace(cleaned, WS_PATTERN, " "))


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


# ---------------------------------------------------------------------------
# Python twins of the JVM rules, and the Arrow plumbing the kernels share
# ---------------------------------------------------------------------------

_WS_RE = re.compile(WS_PATTERN, re.ASCII)
_NON_NORM_RE = re.compile(NON_NORM_PATTERN, re.ASCII)
_PUNCT_RE = re.compile(PUNCT_PATTERN, re.ASCII)
_BPE_RE = re.compile(BPE_PATTERN, re.ASCII)


def py_ws_tokens(text: str | None) -> list[str] | None:
    """ws_tokens in Python: Spark's trim strips spaces only (not tabs or
    newlines, which therefore give empty edge tokens), then the ASCII
    whitespace split. NULL stays NULL."""
    return None if text is None else _WS_RE.split(text.strip(" "))


def py_normalize_text(text: str | None) -> str | None:
    """normalize_text in Python, char for char: lowercase, every char
    outside [a-z0-9] and ASCII whitespace (non-ASCII letters included)
    becomes a space, whitespace runs collapse to one space, trimmed.
    NULL stays NULL."""
    if text is None:
        return None
    return _WS_RE.sub(" ", _NON_NORM_RE.sub(" ", text.lower())).strip(" ")


def py_word_shingles(norm: str | None, n: int = 3) -> list[str | None]:
    """word_shingles in Python, over an already NORMALIZED text (the
    kernels that also hash the whole text normalize once): the distinct
    n-word shingles in first-occurrence order, as array_distinct keeps
    them; fewer than n words gives [norm]; NULL gives [None]."""
    if norm is None:
        return [None]
    toks = norm.split(" ")
    if len(toks) < n:
        return [norm]
    return list(dict.fromkeys(
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def _ensure_parallel(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """CPU-dense per-row work (thousands of md5 calls per row) dies on
    parallelism, not data volume: a small parquet file arrives as ONE
    input split and pins a single core. Repartition only when the scan is
    narrower than the cluster — at real scale input splits >> cores and
    this is a no-op (no shuffle added)."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def map_texts(df: DataFrame, text_col: str, carry: list[str],
              fields: list[tuple[str, pa.DataType]], row) -> DataFrame:
    """Run `row` over every `text_col` cell of `df` in Python Arrow
    workers (after _ensure_parallel) — the plumbing of every text kernel.

    Returns the `carry` columns, with their input names and types, then
    `fields`. row(text) gets one cell (None for NULL) and returns a list
    of output rows, each a tuple of `fields` values: one row per text for
    the per-document kernels, several for a kernel that explodes. The
    carried columns follow each output row by take() on the source row
    index, which keeps their exact Arrow type and nulls: a column rebuilt
    with pa.array(values) infers int64 and crashes int or string id
    schemas at read time."""
    names = list(carry) + ([] if text_col in carry else [text_col])
    src = _ensure_parallel(df).select(*names)
    tidx, k = names.index(text_col), len(carry)
    schema = pa.schema(fields)
    ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema][:k]
        + [f"`{f.name}` {from_arrow_type(f.type).simpleString()}"
           for f in schema])

    def kernel(batches):
        for batch in batches:
            rows, src_idx = [], []
            for i, text in enumerate(batch.column(tidx).to_pylist()):
                out = row(text)
                rows += out
                src_idx += [i] * len(out)
            take = pa.array(src_idx, pa.int32())
            values = list(zip(*rows)) or [()] * len(schema)
            yield pa.record_batch(
                [batch.column(j).take(take) for j in range(k)]
                + [pa.array(v, f.type) for v, f in zip(values, schema)],
                names=list(carry) + schema.names,
            )

    return src.mapInArrow(kernel, schema=ddl)


# ---------------------------------------------------------------------------
# Arrow kernels
# ---------------------------------------------------------------------------

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
    def row(text):
        norm = py_normalize_text(text)
        if norm is None:
            return [(None, None)]
        return [(hashlib.md5(norm.encode()).hexdigest(),
                 min(hashlib.md5(s.encode()).hexdigest()
                     for s in py_word_shingles(norm, n)))]

    return map_texts(df, text_col, [id_col],
                     [("fp", pa.string()), ("minhash1", pa.string())], row)


def doc_fingerprint_arrow(
    df: "DataFrame", id_col: str = "doc_id", text_col: str = "text",
) -> "DataFrame":
    """(id, text) -> (id, fp): the md5 content fingerprint alone — the
    fp half of fingerprints_arrow without the per-shingle MinHash work.
    Same NULL semantics (NULL text -> NULL fp). exact_dedup's hot path:
    one Python md5 per doc scales across cores where the JVM regex+md5
    string churn flat-lines (CLAUDE.md rule 13)."""
    def row(text):
        norm = py_normalize_text(text)
        return [(None if norm is None
                 else hashlib.md5(norm.encode()).hexdigest(),)]

    return map_texts(df, text_col, [id_col], [("fp", pa.string())], row)


def with_text_stats_arrow(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Arrow twin of with_text_stats — value-identical (tested: exact
    ints, same-order IEEE double arithmetic, NULL text -> all-NULL stats,
    empty text -> NULL punct_ratio/quality_score) and thread-scalable:
    the JVM split/filter/array churn is the single-JVM scaling
    bottleneck (see operators/dedup.py minhash_signature_arrow).
    Tokenization is py_ws_tokens (Spark's trim strips spaces only); the
    BPE and punctuation patterns are ASCII classes, compiled re.ASCII."""
    sw = frozenset(STOPWORDS)

    def row(text):
        toks = py_ws_tokens(text)
        if toks is None:
            return [(None,) * 10]
        n = len(toks)
        nd = len(set(toks))
        ns = sum(t in sw for t in toks)
        n_punct = len(_PUNCT_RE.findall(text))
        dr, sr = nd / n, ns / n
        pr = n_punct / len(text) if text else None
        q = None if pr is None else dr * 0.4 + sr * 0.4 + (1.0 - pr) * 0.2
        return [(n, len(_BPE_RE.findall(text)), nd, ns, n_punct,
                 sum(map(len, toks)) / n, dr, sr, pr, q)]

    return map_texts(
        df, text_col, df.columns,
        [(c, pa.int64()) for c in ("n_ws_tokens", "n_bpe_tokens",
                                   "n_distinct_tokens", "n_stopwords",
                                   "n_punct")]
        + [(c, pa.float64()) for c in ("avg_word_len", "distinct_ratio",
                                       "stopword_ratio", "punct_ratio",
                                       "quality_score")],
        row,
    )
