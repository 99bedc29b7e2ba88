"""Corpus operators: decontamination, packing, sampling/mixing,
repetition stats — each against an independent pandas/duckdb/numpy
oracle at sf0.001."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.corpus import (
    blocked_cumsum,
    contamination_report,
    pack_chunks,
    pack_chunks_global,
    repetition_stats,
    stratified_sample,
    weighted_mix,
)
from tests.conftest import SF_DIR
from tests.util import assert_df_equal


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------

def test_contamination_report(spark, docs, ddb):
    bench = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 <> 0")
    got = contamination_report(corpus, bench, n=3)

    oracle = ddb.execute("""
        WITH n AS (SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
          FROM documents),
        tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n),
        s AS (SELECT doc_id,
                list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [norm] END) AS sh
              FROM tk),
        ce AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sh1
               FROM s WHERE doc_id % 10 <> 0),
        be AS (SELECT DISTINCT doc_id AS bid, unnest(sh) AS sh1
               FROM s WHERE doc_id % 10 = 0),
        hit AS (SELECT ce.doc_id,
                       count(DISTINCT ce.sh1) AS n_hit,
                       count(DISTINCT be.bid) AS n_bench_docs
                FROM ce JOIN be USING (sh1) GROUP BY 1)
        SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_sh,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               CAST(coalesce(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
               CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(s.sh)
                 AS contamination,
               CAST(coalesce(h.n_hit, 0) > 0 AS INT) AS is_contaminated
        FROM s LEFT JOIN hit h USING (doc_id)
        WHERE s.doc_id % 10 <> 0
    """).df()
    assert_df_equal(got, oracle)
    # the synthetic corpus shares vocabulary: contamination must trigger
    assert got.filter("is_contaminated = 1").count() > 0


def test_contamination_self_is_total(spark, docs):
    """Every doc checked against itself is 100% contaminated."""
    got = contamination_report(docs, docs).toPandas()
    assert (got["n_hit"] == got["n_sh"]).all()
    assert (got["contamination"] == 1.0).all()


# ---------------------------------------------------------------------------
# packing
# ---------------------------------------------------------------------------

def _pack_oracle(pdf: pd.DataFrame, capacity: int, by_group: bool):
    """Sequential reference packer (pure python)."""
    rows = []
    groups = pdf.groupby("source") if by_group else [(None, pdf)]
    for g, part in groups:
        off = 0
        for _, r in part.sort_values("doc_id").iterrows():
            t = int(r["n_tokens"])
            if t < 1:
                continue
            start, end = off, off + t
            for c in range(start // capacity, (end - 1) // capacity + 1):
                cb, ce = c * capacity, (c + 1) * capacity
                row = {
                    "doc_id": r["doc_id"], "chunk_id": c,
                    "tok_begin": max(cb - start, 0),
                    "tok_end": min(ce - start, t),
                    "pos_in_chunk": max(start - cb, 0),
                }
                if by_group:
                    row["source"] = g
                rows.append(row)
            off = end
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def sized_docs(spark, docs):
    return docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )


def test_pack_chunks_grouped(spark, sized_docs):
    got = pack_chunks(sized_docs, capacity=64)
    want = _pack_oracle(sized_docs.toPandas(), 64, by_group=True)
    assert_df_equal(got, want)


def test_pack_chunks_invariants(spark, sized_docs):
    out = pack_chunks(sized_docs, capacity=64).toPandas()
    # spans within each doc tile the doc exactly
    per_doc = out.groupby("doc_id").agg(first_begin=("tok_begin", "min"))
    # chunk fill: every chunk except possibly a group's last holds
    # exactly `capacity` tokens
    out["span"] = out["tok_end"] - out["tok_begin"]
    fill = out.groupby(["source", "chunk_id"])["span"].sum()
    last = fill.groupby(level=0).tail(1).index
    assert (fill.drop(last) == 64).all()
    assert (fill <= 64).all()
    # offsets stay inside the chunk
    assert ((out["pos_in_chunk"] >= 0) & (out["pos_in_chunk"] < 64)).all()
    assert per_doc["first_begin"].eq(0).all()


def test_pack_chunks_global_matches_grouped_semantics(spark, sized_docs):
    """Blocked-cumsum global packing == single-window global packing."""
    got = pack_chunks_global(sized_docs, capacity=64, block_width=50)
    want = _pack_oracle(
        sized_docs.toPandas().assign(source="all"), 64, by_group=False
    )
    assert_df_equal(got, want)


def test_blocked_cumsum_matches_global_window(spark, sized_docs):
    from pyspark.sql import Window

    got = blocked_cumsum(
        sized_docs.select("doc_id", "n_tokens"), "n_tokens",
        F.floor(F.col("doc_id") / 37).cast("long"), "doc_id",
    ).select("doc_id", "_start")
    w = Window.orderBy("doc_id")
    want = sized_docs.select(
        "doc_id",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_start"),
    ).toPandas()
    assert_df_equal(got, want)


# ---------------------------------------------------------------------------
# sampling / mixing
# ---------------------------------------------------------------------------

def test_stratified_sample_deterministic_and_oracle(spark, docs, ddb):
    rates = {"src0": 700, "src1": 300, "src2": 0}
    got = stratified_sample(docs, rates, default_rate=100)
    again = stratified_sample(docs, rates, default_rate=100)
    assert got.toPandas().equals(again.toPandas())

    case = ("CASE source WHEN 'src0' THEN 700 WHEN 'src1' THEN 300 "
            "WHEN 'src2' THEN 0 ELSE 100 END")
    key = ("(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8))"
           "::BIGINT % 1000)")
    oracle = ddb.execute(f"""
        SELECT *, {key} AS sample_key, CAST({case} AS BIGINT) AS sample_rate
        FROM documents WHERE {key} < {case}
    """).df()
    assert_df_equal(got, oracle)
    # rate sanity: kept fraction tracks the requested rate
    n0 = docs.filter("source = 'src0'").count()
    k0 = got.filter("source = 'src0'").count()
    assert abs(k0 / n0 - 0.7) < 0.15


def test_weighted_mix_upsampling(spark, docs):
    out = weighted_mix(docs, {"src0": 2500, "src1": 1000, "src2": 400})
    pdf = out.groupBy("source", "doc_id").count().toPandas()
    by_src = pdf.groupby("source")["count"]
    # src0: every doc 2 or 3 copies; src1: exactly 1; src2: never > 1
    assert set(pdf[pdf.source == "src0"]["count"]) <= {2, 3}
    assert (pdf[pdf.source == "src1"]["count"] == 1).all()
    assert pdf[pdf.source == "src2"]["count"].max() <= 1
    # weight 1000 == identity on that stratum
    n1 = docs.filter("source = 'src1'").count()
    assert by_src.count().get("src1", 0) == n1
    # copy_idx dense per row
    mx = out.filter("source='src0'").groupBy("doc_id") \
        .agg(F.max("copy_idx").alias("m"), F.count("*").alias("c")) \
        .toPandas()
    assert (mx["m"] + 1 == mx["c"]).all()


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------

def test_repetition_stats_oracle(spark, docs, ddb):
    got = repetition_stats(docs)
    oracle = ddb.execute("""
        WITH t AS (SELECT doc_id, trim(text) AS txt,
                          string_split_regex(trim(text), '\\s+') AS toks
                   FROM documents),
        bg AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 2
                   THEN list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])
                   ELSE [txt] END AS bgs
               FROM t),
        e AS (SELECT doc_id, unnest(bgs) AS bg FROM bg),
        c AS (SELECT doc_id, bg, count(*) AS cnt FROM e GROUP BY 1, 2),
        r AS (SELECT doc_id, bg, cnt,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY cnt DESC, bg ASC) AS rn,
                sum(cnt) OVER (PARTITION BY doc_id) AS n_bigrams
              FROM c)
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               bg AS top_bigram, CAST(cnt AS BIGINT) AS top_count,
               CAST(cnt AS DOUBLE) / n_bigrams AS rep_ratio
        FROM r WHERE rn = 1
    """).df()
    assert_df_equal(got, oracle)


def test_repetition_detects_repeats(spark):
    df = spark.createDataFrame(
        [(1, "spam ham " * 20), (2, "a b c d e f g h i j")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["rep_ratio"] > 0.4
    assert out[2]["top_count"] == 1


# ---------------------------------------------------------------------------
# top n-grams
# ---------------------------------------------------------------------------

def test_top_ngrams_oracle(spark, docs, ddb):
    from sptag_spark.operators.corpus import top_ngrams

    got = top_ngrams(docs, n=3, k=20)
    oracle = ddb.execute("""
        WITH n AS (SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
          FROM documents),
        tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n),
        s AS (SELECT doc_id,
                list_distinct(CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [norm] END) AS sh
              FROM tk),
        e AS (SELECT unnest(sh) AS ngram FROM s),
        c AS (SELECT ngram, count(*) AS df_docs FROM e GROUP BY 1),
        r AS (SELECT ngram, CAST(df_docs AS BIGINT) AS df_docs,
                CAST(row_number() OVER (ORDER BY df_docs DESC, ngram ASC)
                  AS INT) AS rank
              FROM c)
        SELECT ngram, df_docs, rank FROM r WHERE rank <= 20
    """).df()
    assert_df_equal(got, oracle)


# ---------------------------------------------------------------------------
# empty-input robustness
# ---------------------------------------------------------------------------

def test_corpus_ops_on_empty_frames(spark, docs):
    from sptag_spark.operators.corpus import (
        contamination_report, pack_chunks_global, repetition_stats,
        stratified_sample, top_ngrams, weighted_mix,
    )

    empty = docs.filter("doc_id < 0")
    assert contamination_report(empty, docs).count() == 0
    # empty benchmark: nothing is contaminated, every doc still reported
    rep = contamination_report(docs, empty)
    assert rep.count() == docs.count()
    assert rep.filter("is_contaminated = 1").count() == 0
    sized = empty.select(
        "doc_id",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )
    assert pack_chunks_global(sized, 64).count() == 0
    assert repetition_stats(empty).count() == 0
    assert stratified_sample(empty, {"src0": 500}).count() == 0
    assert weighted_mix(empty, {"src0": 1500}).count() == 0
    assert top_ngrams(empty).count() == 0


def test_repetition_arrow_matches_relational(spark, docs):
    """Kernel vs relational repetition stats — value-identical incl.
    the lexicographic argmax tiebreak and degenerate rows."""
    from sptag_spark.operators.corpus import (
        _repetition_stats_relational, repetition_stats,
    )

    a = {r["doc_id"]: (r["n_bigrams"], r["top_bigram"], r["top_count"],
                       r["rep_ratio"])
         for r in repetition_stats(docs).collect()}
    b = {r["doc_id"]: (r["n_bigrams"], r["top_bigram"], r["top_count"],
                       r["rep_ratio"])
         for r in _repetition_stats_relational(docs).collect()}
    assert a == b and len(a) == docs.count()
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    edge = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "  x \t y  "), (4, "b a b a b a"),
         # non-space edge whitespace: Spark trim strips spaces ONLY
         (5, "\tx y\n"), (6, "\n\nx x x\n"), (7, "\t")],
        StructType([StructField("doc_id", LongType()),
                    StructField("text", StringType())]),
    )
    ea = {r["doc_id"]: (r["n_bigrams"], r["top_bigram"], r["top_count"])
          for r in repetition_stats(edge).collect()}
    eb = {r["doc_id"]: (r["n_bigrams"], r["top_bigram"], r["top_count"])
          for r in _repetition_stats_relational(edge).collect()}
    assert ea == eb


def test_contamination_int_and_string_ids(spark):
    """The shingle kernel must preserve the exact id type (int ids
    crashed an earlier version that rebuilt ids with inferred int64)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    for id_type, mk in ((IntegerType(), lambda i: i),
                        (StringType(), lambda i: f"d{i}")):
        df = spark.createDataFrame(
            [(mk(i), f"w{i} common words here w{i}") for i in range(20)],
            StructType([StructField("doc_id", id_type),
                        StructField("text", StringType())]),
        )
        rep = contamination_report(
            df, df.filter(F.col("doc_id").isin([mk(0), mk(1)]))
        )
        out = rep.collect()
        assert len(out) == 20
        assert all(r["is_contaminated"] == 1 for r in out)  # shared 3-gram


def test_top_ngrams_drops_null_text_docs(spark):
    """Null/short-text docs explode to a NULL ngram row; it must never
    appear in the output (and thus never hit the NULLS-FIRST vs
    NULLS-LAST tie-boundary divergence vs the oracle — ADVICE r2)."""
    from sptag_spark.operators.corpus import top_ngrams

    rows = [(0, None), (1, "a b c"), (2, "a b c"), (3, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = top_ngrams(df, n=3, k=10).collect()
    assert all(r["ngram"] is not None for r in out)
    assert [r["ngram"] for r in out] == ["a b c"]
    per = top_ngrams(df, n=3, k=10)
    assert per.filter("ngram IS NULL").count() == 0
