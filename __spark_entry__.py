"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time enrichment on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
twin for the correctness gate.

Cross-engine determinism rules used throughout (Spark and DuckDB must
produce hash-identical values):

- Floating-point SUMs over groups/frames are order- and association-
  dependent (DuckDB windows use segment trees; Spark streams frames), so
  any oracle-checked sum runs on exact integers: ``value`` has 2 decimals,
  ``CAST(ROUND(value*100) AS BIGINT)`` is exact in both engines.
- min/max/count/lag/lead/first/last and per-row arithmetic on doubles are
  bit-exact in both engines.
- Every window ordering carries a unique tiebreak column (event_id /
  doc_id), mirroring the reference's VID tiebreak (QueryResultSet.h:83-85).
- md5() agrees across engines and serves as the shared hash primitive for
  the dedup/LSH family.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time enrichment of purchases with the latest
    prior click (as-of join) plus lag/rolling features — on sf0.001."""
    from sptag_spark.operators.asof import asof_join
    from sptag_spark.operators.windows import rolling_rows, with_lag_lead

    ev = _events(spark, "/root/testdata/sf0.001")
    probe = ev.filter("event_type='purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(probe, clicks, on="user_id", probe_ts="ts", data_ts="ts")
    out = with_lag_lead(out, ["user_id"], ["ts", "event_id"], ["click_value"], [1])
    out = rolling_rows(out, ["user_id"], ["ts", "event_id"], "click_value", 5,
                       aggs=("count", "min", "max"))
    return out


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_asof(strategy: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sptag_spark.operators.asof import asof_join

        ev = _events(spark, sf_dir)
        probe = ev.filter("event_type='purchase'").select(
            "event_id", "user_id", "ts"
        )
        clicks = ev.filter("event_type='click'").select(
            "user_id", "ts",
            F.col("value").alias("click_value"),
            F.col("event_id").alias("click_event_id"),
        )
        return asof_join(
            probe, clicks, on="user_id", probe_ts="ts", data_ts="ts",
            strategy=strategy,
        )
    return q


_ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
       c.value AS click_value, c.event_id AS click_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type='click') c
ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _q_asof_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strict=True: a probe must NOT see a data row at its own timestamp
    (reference P3 version predicate excludes the in-flight version)."""
    from sptag_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts",
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    return asof_join(probe, clicks, on="user_id", probe_ts="ts",
                     data_ts="ts", strict=True)


_ASOF_STRICT_ORACLE = """
SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
       c.value AS click_value, c.event_id AS click_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type='click') c
ON p.user_id = c.user_id AND p.ts > c.ts
"""


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-staleness as-of: match only within the last hour (the
    reference's maxDistRatio cutoff P6 transposed to time)."""
    from sptag_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts",
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    return asof_join(probe, clicks, on="user_id", probe_ts="ts",
                     data_ts="ts", strategy="merge",
                     tolerance_seconds=3600)


# The as-of match is the LATEST row <= ts, so "within tolerance" is just
# a null-out of too-stale matches: no other candidate could be newer.
_ASOF_TOL_ORACLE = """
WITH m AS (
  SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
         c.value AS click_value, c.event_id AS click_event_id
  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
  ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type='click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts)
SELECT event_id, user_id, ts,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN matched_ts END AS matched_ts,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN click_value END AS click_value,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN click_event_id END AS click_event_id
FROM m
"""


def _q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-proof as-of: 20% of users collapse onto one synthetic hot
    key, and the salted strategy chunks that key's timeline across
    reducers (reference replica/split, ExtraStaticSearcher.h:735-753).
    The data side is deduped to one row per (key, ts) — with many users
    merged, equal-timestamp clicks with different payloads would
    otherwise make BOTH engines' as-of pick nondeterministically."""
    from pyspark.sql import Window

    from sptag_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 5 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id")),
    )
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts",
        F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("click_event_id").desc()
    )
    clicks = clicks.withColumn("_rn", F.row_number().over(w)) \
        .filter("_rn = 1").drop("_rn")
    return asof_join(
        probe, clicks, on="user_id", probe_ts="ts", data_ts="ts",
        strategy="salted", target_rows_per_key=200, n_chunks=8,
    )


_ASOF_SALTED_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN user_id % 5 = 0 THEN 0 ELSE user_id END AS user_id,
         ts, value, event_type
  FROM events),
p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type='purchase'),
c0 AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type='click'),
c AS (SELECT event_id, user_id, ts, value FROM (
    SELECT c0.*, row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY event_id DESC) AS rn
    FROM c0)
  WHERE rn = 1)
SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
       c.value AS click_value, c.event_id AS click_event_id
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
    )


_CORPUS_CUBE_ORACLE = """
SELECT source, lang, count(*) AS n_docs,
       CAST(GROUPING(source) AS INT) AS g_source,
       CAST(GROUPING(lang) AS INT) AS g_lang
FROM documents GROUP BY CUBE(source, lang)
"""


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.windows import with_lag_lead

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    return with_lag_lead(ev, ["user_id"], ["ts", "event_id"], ["value"], [1, 3])


_LAG_LEAD_ORACLE = """
SELECT event_id, user_id, ts, value,
       lag(value, 1)  OVER w AS lag_value_1,
       lead(value, 1) OVER w AS lead_value_1,
       lag(value, 3)  OVER w AS lag_value_3,
       lead(value, 3) OVER w AS lead_value_3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _q_rolling_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.windows import rolling_rows

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return rolling_rows(
        ev, ["user_id"], ["ts", "event_id"], "cents", 5,
        aggs=("sum", "min", "max", "count"),
    )


_ROLLING_ROWS_ORACLE = """
SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS cents,
       CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS roll5r_sum_cents,
       min(CAST(round(value*100) AS BIGINT))   OVER w AS roll5r_min_cents,
       max(CAST(round(value*100) AS BIGINT))   OVER w AS roll5r_max_cents,
       count(CAST(round(value*100) AS BIGINT)) OVER w AS roll5r_count_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def _q_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.windows import rolling_range_seconds

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return rolling_range_seconds(
        ev, ["user_id"], "ts", "cents", 3600, aggs=("sum", "count", "min", "max")
    )


_ROLLING_RANGE_ORACLE = """
SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS cents,
       CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS roll3600s_sum_cents,
       count(CAST(round(value*100) AS BIGINT)) OVER w AS roll3600s_count_cents,
       min(CAST(round(value*100) AS BIGINT))   OVER w AS roll3600s_min_cents,
       max(CAST(round(value*100) AS BIGINT))   OVER w AS roll3600s_max_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.sessionize import sessionize

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    return sessionize(ev, keys=["user_id"], ts="ts", gap_seconds=1800)


_SESSIONIZE_ORACLE = """
WITH gaps AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts)) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events)
SELECT event_id, user_id, ts,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
         AS session_id
FROM gaps
"""


def _q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.sessionize import session_aggregate

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return session_aggregate(
        ev, keys=["user_id"], ts="ts", gap_seconds=1800, value_col="cents"
    )


_SESSION_AGG_ORACLE = """
WITH gaps AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS cents,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts)) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events),
sess AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
            AS session_id
  FROM gaps)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_sec,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM sess GROUP BY user_id, session_id
"""


def _q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.windows import backfill

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value")).alias("value"),
    )
    return backfill(ev, ["user_id"], ["ts", "event_id"], ["value"])


_BACKFILL_ORACLE = """
SELECT event_id, user_id, ts,
       CASE WHEN event_type='error' THEN NULL ELSE value END AS value,
       last_value(CASE WHEN event_type='error' THEN NULL ELSE value END
                  IGNORE NULLS) OVER w AS value_filled
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.topk import top_k_per_group

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    return top_k_per_group(
        ev, keys=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()], k=3,
    )


_TOPK_ORACLE = """
SELECT * FROM (
  SELECT event_id, user_id, value,
         CAST(row_number() OVER (PARTITION BY user_id
              ORDER BY value DESC, event_id) AS INT) AS rank
  FROM events)
WHERE rank <= 3
"""


def _q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.topk import global_top_k

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    return global_top_k(ev, [F.col("value").desc(), F.col("event_id").asc()], 100)


_GLOBAL_TOPK_ORACLE = """
SELECT event_id, user_id, value FROM events
ORDER BY value DESC, event_id LIMIT 100
"""


# ---------------------------------------------------------------------------
# documents / embeddings: text analysis, dedup, similarity search
# ---------------------------------------------------------------------------

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# Shared oracle fragments (DuckDB). _NORM/_TOKS/_SHINGLES mirror
# sptag_spark.functions.text.normalize_text / ws_tokens / word_shingles
# term-for-term so values hash-match.
_NORM = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
         "'\\s+', ' ', 'g'))")
_TOKS_CTE = f"""
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents)
"""
_SHINGLES_CTE = f"""
WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n),
s AS (SELECT doc_id,
        list_distinct(CASE WHEN len(toks) >= 3
          THEN list_transform(range(1, len(toks)-1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
          ELSE [norm] END) AS sh
      FROM tk)
"""
_STOPWORDS_SQL = "('the','a','of','and','to','in','is')"


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow text-stats kernel — value-identical to the expression form
    (exact ints, same-order IEEE doubles; tested) and thread-scalable."""
    from sptag_spark.functions.text import with_text_stats_arrow

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return with_text_stats_arrow(docs).drop("text")


_TEXT_STATS_ORACLE = _TOKS_CTE + f"""
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
    AS n_bpe_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
  CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) AS BIGINT) AS n_stopwords,
  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS BIGINT)
    AS n_punct,
  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
    AS avg_word_len,
  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
  CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE) / len(toks)
    AS stopword_ratio,
  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
    / NULLIF(length(text), 0) AS punct_ratio,
  (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.4
    + (CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE) / len(toks)) * 0.4
    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
       AS DOUBLE) / NULLIF(length(text), 0)) * 0.2 AS quality_score
FROM t
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.functions.text import with_lang_id

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return with_lang_id(docs).drop("text")


def _lang_id_oracle() -> str:
    from sptag_spark.functions.text import LANG_MARKERS

    score = {
        lang: "CAST(len(list_filter(toks, x -> x IN ("
        + ",".join(f"'{w}'" for w in words)
        + "))) AS BIGINT)"
        for lang, words in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ",".join(score[lg] for lg in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {score[lg]} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    cols = ",\n  ".join(f"{score[lg]} AS score_{lg}" for lg in langs)
    return _TOKS_CTE + f"SELECT doc_id,\n  {cols},\n  {case} AS lang_guess\nFROM t"


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.functions.text import with_text_stats_arrow

    docs = _documents(spark, sf_dir).select("doc_id", "lang", "source", "text")
    return (
        with_text_stats_arrow(docs)
        .filter("quality_score >= 0.5 AND n_ws_tokens BETWEEN 10 AND 1000 "
                "AND punct_ratio < 0.1")
        .select("doc_id", "lang", "source", "n_ws_tokens", "quality_score")
    )


_QUALITY_FILTER_ORACLE = _TOKS_CTE + f""",
f AS (SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
    AS DOUBLE) / NULLIF(length(text), 0) AS punct_ratio,
  (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.4
    + (CAST(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) AS DOUBLE) / len(toks)) * 0.4
    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
       AS DOUBLE) / NULLIF(length(text), 0)) * 0.2 AS quality_score
FROM t)
SELECT d.doc_id, d.lang, d.source, f.n_ws_tokens, f.quality_score
FROM documents d JOIN f ON d.doc_id = f.doc_id
WHERE f.quality_score >= 0.5 AND f.n_ws_tokens BETWEEN 10 AND 1000
  AND f.punct_ratio < 0.1
"""


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused Python kernel (normalize + md5 + shingle-min md5):
    bit-identical to the doc_fingerprint/shingle_min_fingerprint
    expressions (tested char-for-char) and thread-scalable — JVM
    per-shingle md5 string churn flat-lines across cores in one JVM."""
    from sptag_spark.functions.text import fingerprints_arrow

    docs = _documents(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return fingerprints_arrow(docs)


_DOC_FINGERPRINT_ORACLE = _SHINGLES_CTE + f"""
SELECT n.doc_id, md5(n.norm) AS fp,
       list_min(list_transform(s.sh, x -> md5(x))) AS minhash1
FROM n JOIN s ON n.doc_id = s.doc_id
"""


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir))


_DEDUP_EXACT_ORACLE = f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
c AS (SELECT fp, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
      FROM fp GROUP BY fp)
SELECT f.doc_id, f.fp, c.canonical_doc_id, c.n_copies,
       CAST(f.doc_id <> c.canonical_doc_id AS INT) AS is_duplicate
FROM fp f JOIN c ON f.fp = c.fp
"""


def _q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # default max_df="auto": stop-shingles above the corpus-derived
    # doc-frequency cap never enter the self-join (the 100-TB skew fix);
    # the oracle applies the identical cap formula.
    from sptag_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_documents(spark, sf_dir), threshold=0.5)


_MAX_DF_SQL = ("least(greatest(500, CAST(ceil(0.005 * "
               "(SELECT count(*) FROM documents)) AS BIGINT)), 5000)")

_DEDUP_JACCARD_ORACLE = _SHINGLES_CTE + f""",
e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sh1 FROM s),
keep AS (SELECT sh1 FROM e GROUP BY sh1 HAVING count(*) <= {_MAX_DF_SQL}),
e2 AS (SELECT e.doc_id, e.n_sh, e.sh1 FROM e JOIN keep USING (sh1)),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common,
             any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
      FROM e2 a JOIN e2 b ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT id_a, id_b, n_a, n_b, n_common,
       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
FROM p WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
"""


def _q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _documents(spark, sf_dir), num_hashes=12, bands=4
    )


def _minhash_band_ctes(num_hashes: int, bands: int) -> str:
    """Shared CTE block: per-doc MinHash signatures + banded keys +
    distinct candidate pairs (mirrors dedup.minhash_lsh_pairs: one md5
    base hash per shingle, then exact-int64 multiply-shift permutations
    with the same (a,b) literals)."""
    from sptag_spark.operators.dedup import _MH_MASK61, _mh_params

    r = num_hashes // bands
    params = _mh_params(num_hashes)
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(xs, x -> ({a} * x + {b}) & {_MH_MASK61}))"
        f" AS mh{h}"
        for h, (a, b) in enumerate(params)
    )
    # tuple band keys (k0..k{r-1} raw ints), not a concat string — joins
    # NULL-safe-NOT: a null signature value never matches, mirroring the
    # engine's long-column equi-join
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(f"mh{b * r + i} AS k{i}" for i in range(r))
        + " FROM sig"
        for b in range(bands)
    )
    kjoin = "".join(f"   AND a.k{i} = b.k{i}\n" for i in range(r))
    return f""",
xs0 AS (SELECT doc_id,
    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS xs
  FROM s),
sig AS (SELECT doc_id,
    {sig_cols}
  FROM xs0),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.doc_id < b.doc_id
{kjoin})
"""""


def _minhash_lsh_oracle(num_hashes: int = 12, bands: int = 4) -> str:
    return (_SHINGLES_CTE + _minhash_band_ctes(num_hashes, bands)
            + "SELECT id_a, id_b FROM cand")


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_documents(spark, sf_dir), max_hamming=3)


def _simhash_oracle(bits: int = 60, max_hamming: int = 3) -> str:
    # 60-bit shingle hash: first 15 md5 hex chars (< 2^60, positive in
    # BIGINT — mirrors dedup.simhash_sketch / simhash_sketch_arrow)
    h60 = "(('0x' || substr(md5(w), 1, 15))::BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, "
        f"w -> ((({h60}) >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return _SHINGLES_CTE + f""",
hv AS (SELECT doc_id, sh AS hs FROM s),
sim AS (SELECT doc_id, {terms} AS sim FROM hv)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sim_a, b.sim AS sim_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}
"""


# Quantized-cosine SQL fragment shared by the embedding oracles:
# exact integer dot / (sqrt(na) * sqrt(nb)) in IEEE float64.
_COS = (
    "CAST(list_sum(list_transform(range(1, len({a}.q)+1),"
    " i -> {a}.q[i]*{b}.{bq}[i])) AS DOUBLE)"
    " / (sqrt(CAST({a}.nrm AS DOUBLE)) * sqrt(CAST({b}.{bn} AS DOUBLE)))"
)


def _q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.knn import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    return brute_force_topk(emb, emb.filter("vec_id < 8"), k=10)


_KNN_ORACLE = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
scored AS (
  SELECT qy.vec_id AS query_id, c.vec_id AS vec_id,
    CAST(list_sum(list_transform(range(1, len(c.q)+1), i -> c.q[i]*qy.q[i]))
      AS DOUBLE) / (sqrt(CAST(c.nrm AS DOUBLE)) * sqrt(CAST(qy.nrm AS DOUBLE)))
      AS cosine
  FROM n c JOIN n qy ON qy.vec_id < 8 AND c.vec_id <> qy.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked matmul path: bit-identical to the expression path (tested),
    # O(N^2/B^2) per task instead of a materialized N^2 join
    from sptag_spark.operators.knn import cosine_near_dup_pairs_blocked

    # n_blocks=None: adaptive block count (knn.adaptive_n_blocks) —
    # sized to the cluster, result-invariant (tested across block counts)
    return cosine_near_dup_pairs_blocked(
        _embeddings(spark, sf_dir), threshold=0.4, n_blocks=None
    )


_EMB_NEAR_DUP_ORACLE = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]))
      AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
WHERE cosine >= 0.4
"""


def _q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-RECALL scale path (sign-LSH candidates + exact
    verify) — but fully deterministic: the ±1 hyperplanes derive from
    md5(seed|bit|dim) bytes, so DuckDB replicates sketches, banding, and
    the exact-cosine verification byte-for-byte. Oracle-checked."""
    from sptag_spark.operators.knn import lsh_near_dup_pairs

    return lsh_near_dup_pairs(_embeddings(spark, sf_dir), threshold=0.4)


# Sign-LSH replicated relationally: plane bit (j,i) = first md5 byte of
# '42|j|i' & 1 (the engine's _lsh_planes family); sketch bit j set iff the
# exact integer dot against plane j is > 0; 8 bands of 4 bits; candidates
# agree on >= 1 band; emitted pairs verified with the exact cosine.
_LSH_NEAR_DUP_ORACLE = f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
sk AS (
  SELECT a.vec_id,
    CAST(list_sum(list_transform(range(0, 32), j ->
      CASE WHEN list_sum(list_transform(range(1, len(a.q)+1), i ->
        a.q[i] * (CASE WHEN (('0x' || substr(md5(
            '42|' || CAST(j AS VARCHAR) || '|' || CAST(i-1 AS VARCHAR)
          ), 1, 2))::BIGINT & 1) = 1 THEN 1 ELSE -1 END)
      )) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
    )) AS BIGINT) AS sk
  FROM n a),
banded AS (
  SELECT vec_id, b.j AS band,
         sk & (CAST(15 AS BIGINT) << (4 * CAST(b.j AS INT))) AS bval
  FROM sk, range(0, 8) AS b(j)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b,
    {_COS.format(a='na', b='nb', bq='q', bn='nrm')} AS cosine
  FROM cand c
  JOIN n na ON na.vec_id = c.id_a
  JOIN n nb ON nb.vec_id = c.id_b)
WHERE cosine >= 0.4
"""


def _q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a PERSISTED IVF index (postings partitionBy bucket +
    centroid table), then probe it with a partition-pruned scan — the
    reference's BuildIndex/SearchIndex split (SPANNIndex.cpp:309-372).
    Deterministic end-to-end (md5 head selection + exact integer math),
    so the oracle replicates the full approximate pipeline in SQL."""
    import tempfile

    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = _embeddings(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"sptag_ivf_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ivf_build(emb, n_centroids=32, path=path)
    return ivf_probe(spark, path, emb.filter("vec_id < 8"), k=10, nprobe=4)


# The IVF pipeline replicated relationally: md5-ordered head selection,
# argmax bucket assignment, top-nprobe probes, pruned scoring, top-k.
_IVF_ORACLE = f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM (
    SELECT vec_id, q, nrm FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
probes AS (
  SELECT query_id, cid AS bucket FROM (
    SELECT qy.vec_id AS query_id, ct.cid,
      row_number() OVER (PARTITION BY qy.vec_id ORDER BY
        {_COS.format(a='qy', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n qy CROSS JOIN cent ct WHERE qy.vec_id < 8)
  WHERE rn <= 4),
scored AS (
  SELECT p.query_id, c.vec_id,
    {_COS.format(a='c', b='qy', bq='q', bn='nrm')} AS cosine
  FROM probes p
  JOIN assign a ON a.bucket = p.bucket
  JOIN n c ON c.vec_id = a.vec_id
  JOIN n qy ON qy.vec_id = p.query_id
  WHERE c.vec_id <> p.query_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _q_ivf_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica multi-assignment IVF (reference ReplicaCount=8 RNG
    closure, VectorIndex.cpp:1144-1254 RNGSelection +
    ExtraStaticSearcher.h:735-753): every vector lands in its nearest
    head posting AND its second-nearest unless the nearest head occludes
    it (cos(h1,h2) > cos(v,h2)); probes dedupe candidates per query.
    Deterministic end-to-end (md5 heads, exact int64 dots, IEEE cosine
    for the occlusion test), so the oracle replicates the RNG closure
    relationally."""
    import tempfile

    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = _embeddings(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"sptag_ivfrep_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ivf_build(emb, n_centroids=32, path=path, replica_count=2)
    return ivf_probe(spark, path, emb.filter("vec_id < 8"), k=10, nprobe=2)


# The replicated IVF pipeline relationally: top-2 candidate heads per
# vector, RNG occlusion on the head-pair cosine (accept the 2nd head iff
# cos(h1,h2) <= cos(v,h2) — identical IEEE ops to the Arrow kernel),
# probe top-2 heads per query, DISTINCT (query, vec) candidates, top-k.
_IVF_REPLICA_ORACLE = f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM (
    SELECT vec_id, q, nrm FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)),
hh AS (SELECT a.cid AS c1, b.cid AS c2,
    CAST(list_sum(list_transform(range(1, len(a.cq)+1),
      i -> a.cq[i]*b.cq[i])) AS DOUBLE)
    / (sqrt(CAST(a.cnrm AS DOUBLE)) * sqrt(CAST(b.cnrm AS DOUBLE))) AS hcos
  FROM cent a CROSS JOIN cent b),
cand AS (
  SELECT vec_id, cid, cosv, rn FROM (
    SELECT c.vec_id, ct.cid,
      {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} AS cosv,
      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn <= 2),
assign AS (
  SELECT vec_id, cid AS bucket FROM cand WHERE rn = 1
  UNION ALL
  SELECT c2.vec_id, c2.cid FROM cand c2
  JOIN cand c1 ON c1.vec_id = c2.vec_id AND c1.rn = 1
  JOIN hh ON hh.c1 = c1.cid AND hh.c2 = c2.cid
  WHERE c2.rn = 2 AND hh.hcos <= c2.cosv),
probes AS (
  SELECT query_id, cid AS bucket FROM (
    SELECT qy.vec_id AS query_id, ct.cid,
      row_number() OVER (PARTITION BY qy.vec_id ORDER BY
        {_COS.format(a='qy', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n qy CROSS JOIN cent ct WHERE qy.vec_id < 8)
  WHERE rn <= 2),
pairs AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p
  JOIN assign a ON a.bucket = p.bucket
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT pr.query_id, pr.vec_id,
    {_COS.format(a='c', b='qy', bq='q', bn='nrm')} AS cosine
  FROM pairs pr
  JOIN n c ON c.vec_id = pr.vec_id
  JOIN n qy ON qy.vec_id = pr.query_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _q_paged_topk_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relaxed-Monotonicity iterative scan (reference Q4 VBASE cursor:
    ResultIterator.cpp:28-57 rents a workspace with p_maxCheck;
    BKTIndex.cpp:431-434 flips m_relaxedMono). Build the flat IVF index,
    then run the budgeted scan for one query: heads rank by exact
    cosine, postings probe best-first until the 100-row budget, and each
    result row flags relaxed_mono=1 once it sinks below the best
    unprobed head's cosine. Deterministic end-to-end, so the oracle
    replicates the head walk + budget + flag relationally."""
    import tempfile

    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk

    emb = _embeddings(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"sptag_ivfpaged_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ivf_build(emb, n_centroids=32, path=path)
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    return relaxed_mono_topk(spark, path, list(qvec), k=50, max_check=100)


# The budgeted cursor relationally: same head selection/assignment as
# _IVF_ORACLE, then the best-first head walk with a cumulative posting-
# row budget (probe while rows-before < 100), threshold = best unprobed
# non-empty head's cosine, flag = cosine below threshold.
_PAGED_BUDGET_ORACLE = f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM (
    SELECT vec_id, q, nrm FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
sizes AS (SELECT bucket, count(*) AS sz FROM assign GROUP BY bucket),
qy AS (SELECT q, nrm FROM n WHERE vec_id = 0),
heads AS (
  SELECT ct.cid, {_COS.format(a='qy', b='ct', bq='cq', bn='cnrm')} AS hcos,
         coalesce(s.sz, 0) AS sz
  FROM cent ct CROSS JOIN qy LEFT JOIN sizes s ON s.bucket = ct.cid),
walk AS (
  SELECT cid, hcos, sz,
         row_number() OVER (ORDER BY hcos DESC, cid) AS hrank,
         coalesce(sum(sz) OVER (ORDER BY hcos DESC, cid
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rows_before
  FROM heads),
thr AS (SELECT max(hcos) AS t FROM walk
        WHERE NOT (hrank = 1 OR rows_before < 100) AND sz > 0),
scored AS (
  SELECT c.vec_id,
    {_COS.format(a='c', b='qy', bq='q', bn='nrm')} AS cosine
  FROM assign a
  JOIN (SELECT cid FROM walk WHERE hrank = 1 OR rows_before < 100) p
    ON a.bucket = p.cid
  JOIN n c ON c.vec_id = a.vec_id
  CROSS JOIN qy)
SELECT vec_id, cosine, CAST(rank AS INT) AS rank,
       CAST(CASE WHEN thr.t IS NOT NULL AND cosine < thr.t
            THEN 1 ELSE 0 END AS INT) AS relaxed_mono
FROM (SELECT vec_id, cosine,
        row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
      FROM scored) CROSS JOIN thr
WHERE rank <= 50
"""


def _q_paged_topk_budget_batch(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Query-FRAME form of the Relaxed-Monotonicity budgeted scan: one
    declarative plan rents a cursor for a whole wave of queries — the
    vectorized head walk runs per Arrow batch (no per-query driver
    round-trips), then the shared pruned-scan tail scores and flags.
    Row-for-row identical to running relaxed_mono_topk per query
    (tests/test_knn.py parity gates), so the oracle is the single-query
    walk partitioned by query_id."""
    import tempfile

    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk_batch

    emb = _embeddings(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"sptag_ivfpagedb_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ivf_build(emb, n_centroids=32, path=path)
    queries = emb.filter("vec_id < 6")
    return relaxed_mono_topk_batch(spark, path, queries, k=20,
                                   max_check=100)


# The batch cursor relationally: the _PAGED_BUDGET_ORACLE walk with
# every window/aggregate partitioned by query_id — per-query head
# ranks, cumulative budgets, thresholds and flags.
_PAGED_BUDGET_BATCH_ORACLE = f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM (
    SELECT vec_id, q, nrm FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32)),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
sizes AS (SELECT bucket, count(*) AS sz FROM assign GROUP BY bucket),
qy AS (SELECT vec_id AS query_id, q, nrm FROM n WHERE vec_id < 6),
heads AS (
  SELECT qy.query_id, ct.cid,
         {_COS.format(a='qy', b='ct', bq='cq', bn='cnrm')} AS hcos,
         coalesce(s.sz, 0) AS sz
  FROM cent ct CROSS JOIN qy LEFT JOIN sizes s ON s.bucket = ct.cid),
walk AS (
  SELECT query_id, cid, hcos, sz,
         row_number() OVER (PARTITION BY query_id
            ORDER BY hcos DESC, cid) AS hrank,
         coalesce(sum(sz) OVER (PARTITION BY query_id
            ORDER BY hcos DESC, cid
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rows_before
  FROM heads),
thr AS (SELECT query_id, max(hcos) AS t FROM walk
        WHERE NOT (hrank = 1 OR rows_before < 100) AND sz > 0
        GROUP BY query_id),
scored AS (
  SELECT p.query_id, c.vec_id,
    CAST(list_sum(list_transform(range(1, len(c.q)+1),
      i -> c.q[i]*qy.q[i])) AS DOUBLE)
    / (sqrt(CAST(c.nrm AS DOUBLE)) * sqrt(CAST(qy.nrm AS DOUBLE)))
      AS cosine
  FROM (SELECT query_id, cid FROM walk
        WHERE hrank = 1 OR rows_before < 100) p
  JOIN assign a ON a.bucket = p.cid
  JOIN n c ON c.vec_id = a.vec_id
  JOIN qy ON qy.query_id = p.query_id)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank,
       CAST(CASE WHEN thr.t IS NOT NULL AND cosine < thr.t
            THEN 1 ELSE 0 END AS INT) AS relaxed_mono
FROM (SELECT query_id, vec_id, cosine,
        row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) AS rank
      FROM scored) r LEFT JOIN thr USING (query_id)
WHERE rank <= 20
"""


def _q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN as one query (reference SearchIndexWithFilter,
    VectorIndex.h:59): metadata predicate pushed below the scoring join
    into the parquet scan (plan asserted in tests/test_plans.py)."""
    from sptag_spark.operators.knn import filtered_topk

    emb = _embeddings(spark, sf_dir)
    return filtered_topk(emb, emb.filter("vec_id < 8"), "label = 1", k=10)


_FILTERED_KNN_ORACLE = f"""
WITH v AS (SELECT vec_id, label,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, label, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
scored AS (
  SELECT qy.vec_id AS query_id, c.vec_id,
    {_COS.format(a='c', b='qy', bq='q', bn='nrm')} AS cosine
  FROM n c JOIN n qy
    ON qy.vec_id < 8 AND c.vec_id <> qy.vec_id AND c.label = 1)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM scored)
WHERE rank <= 10
"""


def _q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantizer APPLY path (reference F4/F5, PQQuantizer.h:23-208):
    deterministic md5-sampled integer codebooks, per-subspace argmin
    encode, ADC table scoring — all int64, so the oracle replicates the
    encode+score pipeline exactly. (ADC recall is gated separately in
    test_ivfpq.py.)"""
    from sptag_spark.operators.knn import quantize
    from sptag_spark.operators.pq import pq_adc_topk_int, pq_codebooks_md5

    emb = _embeddings(spark, sf_dir)
    books = pq_codebooks_md5(emb, m=4, k=16)
    qrow = emb.filter("vec_id = 0").select(
        quantize(F.col("embedding")).alias("_q")
    ).first()
    return pq_adc_topk_int(emb, books, [int(x) for x in qrow["_q"]], k=10)


def _pq_adc_oracle(m: int = 4, k: int = 16, dim: int = 64,
                   topk: int = 10) -> str:
    dsub = dim // m

    def sq(s: int, a: str, b: str) -> str:
        lo, hi = s * dsub + 1, (s + 1) * dsub + 1
        return (f"list_sum(list_transform(range({lo}, {hi}), "
                f"i -> ({a}.q[i] - {b}.cq[i]) * ({a}.q[i] - {b}.cq[i])))")

    d_cols = ",\n    ".join(f"{sq(s, 'c', 'w')} AS d{s}" for s in range(m))
    t_cols = ",\n    ".join(f"{sq(s, 'qv', 'w')} AS t{s}" for s in range(m))
    # tiebreak on lowest codeword index: pack (distance, j) into one
    # BIGINT (j < 32; distances < 2^40, so d*32+j is collision-free)
    code_cols = ",\n    ".join(
        f"min_by(j, d{s} * 32 + j) AS c{s}" for s in range(m)
    )
    adc = " + ".join(
        f"(SELECT t{s} FROM t WHERE t.j = codes.c{s})" for s in range(m)
    )
    return f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
cw AS (SELECT row_number() OVER (
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j, q AS cq
       FROM (SELECT vec_id, q FROM v
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
qv AS (SELECT q FROM v WHERE vec_id = 0),
t AS (SELECT w.j, {t_cols} FROM cw w, qv),
d AS (SELECT c.vec_id, w.j,
    {d_cols}
  FROM v c CROSS JOIN cw w),
codes AS (SELECT vec_id, {code_cols} FROM d GROUP BY vec_id)
SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
FROM codes ORDER BY adc_dist, vec_id LIMIT {topk}
"""


def _q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed SPANN search shape (ExtraStaticSearcher.h:260-411 +
    PQQuantizer.h:111-130): persisted IVF postings carry PQ codes; the
    probe ADC-scores a partition-pruned codes-only scan (embedding never
    read below re-rank — plan asserted), then exact-re-ranks the top
    `rerank` candidates. Deterministic end-to-end (md5 heads, md5
    codebooks, exact int64 ADC), so the oracle replicates the whole
    approximate pipeline."""
    import tempfile

    from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe

    emb = _embeddings(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"sptag_ivfpq_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ivf_pq_build(emb, n_centroids=32, path=path, m=4, k_codes=16)
    return ivf_pq_probe(spark, path, emb.filter("vec_id < 8"),
                        k=10, nprobe=4, rerank=40)


def _ivf_pq_oracle(n_cent: int = 32, nprobe: int = 4, m: int = 4,
                   k_codes: int = 16, dim: int = 64, rerank: int = 40,
                   topk: int = 10) -> str:
    """IVF + PQ-ADC + exact re-rank, replicated relationally: head
    selection and codebooks are md5 samples, codes are per-subspace
    min_by, ADC joins the per-query table CTE once per subspace, and the
    re-rank window is the standard (cosine DESC, vec_id) tail."""
    dsub = dim // m

    def sq(s: int, a: str, b: str) -> str:
        lo, hi = s * dsub + 1, (s + 1) * dsub + 1
        return (f"list_sum(list_transform(range({lo}, {hi}), "
                f"i -> ({a}.q[i] - {b}.cq[i]) * ({a}.q[i] - {b}.cq[i])))")

    d_cols = ",\n    ".join(f"{sq(s, 'c', 'w')} AS d{s}" for s in range(m))
    t_cols = ",\n    ".join(f"{sq(s, 'qy', 'w')} AS t{s}" for s in range(m))
    code_cols = ",\n    ".join(
        f"min_by(j, d{s} * 32 + j) AS c{s}" for s in range(m)
    )
    t_joins = "\n  ".join(
        f"JOIN t t{s} ON t{s}.query_id = p.query_id AND t{s}.j = cd.c{s}"
        for s in range(m)
    )
    adc_sum = " + ".join(f"t{s}.t{s}" for s in range(m))
    return f"""
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
cent AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm FROM (
    SELECT vec_id, q, nrm FROM n
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cent})),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
      row_number() OVER (PARTITION BY c.vec_id ORDER BY
        {_COS.format(a='c', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
probes AS (
  SELECT query_id, cid AS bucket FROM (
    SELECT qy.vec_id AS query_id, ct.cid,
      row_number() OVER (PARTITION BY qy.vec_id ORDER BY
        {_COS.format(a='qy', b='ct', bq='cq', bn='cnrm')} DESC, ct.cid) AS rn
    FROM n qy CROSS JOIN cent ct WHERE qy.vec_id < 8)
  WHERE rn <= {nprobe}),
cw AS (SELECT row_number() OVER (
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j, q AS cq
       FROM (SELECT vec_id, q FROM v
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_codes})),
d AS (SELECT c.vec_id, w.j,
    {d_cols}
  FROM v c CROSS JOIN cw w),
codes AS (SELECT vec_id, {code_cols} FROM d GROUP BY vec_id),
t AS (SELECT qy.vec_id AS query_id, w.j,
    {t_cols}
  FROM cw w CROSS JOIN (SELECT vec_id, q FROM v WHERE vec_id < 8) qy),
adc_scored AS (
  SELECT p.query_id, a.vec_id, CAST({adc_sum} AS BIGINT) AS adc
  FROM probes p
  JOIN assign a ON a.bucket = p.bucket
  JOIN codes cd ON cd.vec_id = a.vec_id
  {t_joins}
  WHERE a.vec_id <> p.query_id),
cand AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, vec_id) AS arn
    FROM adc_scored)
  WHERE arn <= {rerank}),
rr AS (
  SELECT cd.query_id, cd.vec_id,
    {_COS.format(a='c', b='qy', bq='q', bn='nrm')} AS cosine
  FROM cand cd
  JOIN n c ON c.vec_id = cd.vec_id
  JOIN n qy ON qy.vec_id = cd.query_id)
SELECT * FROM (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS INT) AS rank
  FROM rr)
WHERE rank <= {topk}
"""


def bench_index_subtimings(spark: SparkSession, sf_dir: str) -> dict:
    """Build/probe attribution for the persisted-index contract queries
    (VERDICT r3 'what's wrong' #2): each timed query builds AND probes,
    so without this split a probe regression hides inside the build's
    write time. bench.py emits the result as a separate `subtimings`
    JSON field (not part of the suite total). Called AFTER the main
    query loop, so JIT/codegen/Arrow workers are warm."""
    import tempfile
    import time

    from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe
    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = _embeddings(spark, sf_dir)
    q = emb.filter("vec_id < 8")
    tag = os.path.basename(sf_dir.rstrip("/"))
    base = tempfile.gettempdir()

    def timed(fn) -> float:
        t0 = time.time()
        fn()
        return round(time.time() - t0, 3)

    def noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    p1 = f"{base}/sptag_bench_ivf_{tag}"
    p2 = f"{base}/sptag_bench_ivfpq_{tag}"
    p3 = f"{base}/sptag_bench_ivfrep_{tag}"
    return {
        "ivf_knn_topk": {
            "build": timed(lambda: ivf_build(emb, 32, p1)),
            "probe": timed(lambda: noop(
                ivf_probe(spark, p1, q, k=10, nprobe=4))),
        },
        "ivf_pq_adc_topk": {
            "build": timed(lambda: ivf_pq_build(emb, 32, p2, m=4,
                                                k_codes=16)),
            "probe": timed(lambda: noop(
                ivf_pq_probe(spark, p2, q, k=10, nprobe=4, rerank=40))),
        },
        "ivf_replica_topk": {
            "build": timed(lambda: ivf_build(emb, 32, p3,
                                             replica_count=2)),
            "probe": timed(lambda: noop(
                ivf_probe(spark, p3, q, k=10, nprobe=2))),
        },
    }


def _q_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (reference T1/T6): latest event per
    (user_id, event_type), driven through upsert_latest with the even
    event_ids as the base table and the odd ones as the update stream."""
    from sptag_spark.operators.upsert import upsert_latest

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    base = ev.filter("event_id % 2 = 0")
    updates = ev.filter("event_id % 2 = 1")
    return upsert_latest(base, updates, ["user_id", "event_type"], "ts",
                         tiebreak=["event_id"])


_CURRENT_STATE_ORACLE = """
SELECT event_id, user_id, event_type, ts, value FROM (
  SELECT event_id, user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
"""


def _q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT corpus: drop every doc that loses a
    near-dup pairing (appears as id_b, keep-first policy) — anti-join
    (reference U2 exceptIDS, VectorIndex.cpp:1169-1172).

    Losers come from the SCALE path: MinHash-LSH candidates verified
    with exact Jaccard (never the raw shingle self-join — a stop-shingle
    in k docs would make a k² join group at 100 TB). Deterministic, so
    the oracle replicates candidates + verification exactly."""
    from sptag_spark.operators.dedup import jaccard_pairs_lsh
    from sptag_spark.operators.upsert import apply_deletes

    docs = _documents(spark, sf_dir)
    losers = jaccard_pairs_lsh(docs, threshold=0.5) \
        .select(F.col("id_b").alias("doc_id"))
    return apply_deletes(docs.select("doc_id", "lang", "source"),
                         losers, ["doc_id"])


def _dedup_apply_oracle(num_hashes: int = 12, bands: int = 4,
                        threshold: float = 0.5) -> str:
    return _SHINGLES_CTE + _minhash_band_ctes(num_hashes, bands) + f""",
j AS (SELECT c.id_a, c.id_b,
        CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
          AS jaccard
      FROM cand c
      JOIN s sa ON sa.doc_id = c.id_a
      JOIN s sb ON sb.doc_id = c.id_b),
losers AS (SELECT DISTINCT id_b FROM j WHERE jaccard >= {threshold})
SELECT d.doc_id, d.lang, d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT id_b FROM losers)
"""


def _q_rank_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sptag_spark.operators.knn import multi_index_topk

    emb = _embeddings(spark, sf_dir)
    return multi_index_topk(
        emb, emb.filter("vec_id IN (0, 1)").orderBy("vec_id"),
        weights=[0.7, 0.3], k=10,
    )


_RANK_JOIN_ORACLE = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
q0 AS (SELECT q, nrm FROM n WHERE vec_id = 0),
q1 AS (SELECT q, nrm FROM n WHERE vec_id = 1)
SELECT c.vec_id,
  0.0
  + 0.7 * (CAST(list_sum(list_transform(range(1, len(c.q)+1),
        i -> c.q[i]*q0.q[i])) AS DOUBLE)
      / (sqrt(CAST(c.nrm AS DOUBLE)) * sqrt(CAST(q0.nrm AS DOUBLE))))
  + 0.3 * (CAST(list_sum(list_transform(range(1, len(c.q)+1),
        i -> c.q[i]*q1.q[i])) AS DOUBLE)
      / (sqrt(CAST(c.nrm AS DOUBLE)) * sqrt(CAST(q1.nrm AS DOUBLE))))
  AS score
FROM n c, q0, q1
ORDER BY score DESC, c.vec_id LIMIT 10
"""


def _q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload parse (reference F9 string query parse,
    Server/QueryParser.h:37-59): extract props.k JVM-side and aggregate —
    no Python, schema-on-read stays in the scan."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_EXTRACT_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(props::JSON ->> 'k' AS BIGINT)) AS min_k,
       max(CAST(props::JSON ->> 'k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-NN graph (reference NeighborhoodGraph build, J8/W2): top-6
    neighbors for EVERY row via blocked local-top-k matmuls."""
    from sptag_spark.operators.graph import build_knn_graph

    # n_blocks=None: adaptive (cluster-sized), result-invariant
    return build_knn_graph(_embeddings(spark, sf_dir), k=6, n_blocks=None)


_KNN_GRAPH_ORACLE = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]))
      AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id)
SELECT * FROM (
  SELECT src, dst, cosine,
         CAST(row_number() OVER (PARTITION BY src
              ORDER BY cosine DESC, dst) AS INT) AS rank
  FROM scored)
WHERE rank <= 6
"""

# graph_beam_search replay: exact k=6 graph -> undirected edge set ->
# md5-ordered fixed seeds -> two unrolled walk rounds (frontier = top-6
# visited-but-unexpanded per query; neighbors anti-joined against
# visited; exact quantized re-score) -> global top-6 per query.
_GRAPH_BEAM_ORACLE = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
gscored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]))
      AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
g AS (SELECT src, dst FROM (
  SELECT src, dst, row_number() OVER (PARTITION BY src
         ORDER BY cosine DESC, dst) AS rn FROM gscored) WHERE rn <= 6),
ge AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
qs AS (SELECT vec_id AS query_id, q, nrm FROM n WHERE vec_id < 8),
sd AS (SELECT vec_id AS node FROM embeddings
       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 6),
v0 AS (SELECT qs.query_id, sd.node,
    CAST(list_sum(list_transform(range(1, len(qs.q)+1), i -> qs.q[i]*nd.q[i]))
      AS DOUBLE) / (sqrt(CAST(qs.nrm AS DOUBLE)) * sqrt(CAST(nd.nrm AS DOUBLE)))
      AS cosine, 0 AS hops
  FROM qs CROSS JOIN sd JOIN n nd ON nd.vec_id = sd.node),
f1 AS (SELECT query_id, node FROM (
  SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, node) AS rn FROM v0) WHERE rn <= 6),
x1 AS (SELECT DISTINCT f1.query_id, ge.dst AS node
       FROM f1 JOIN ge ON ge.src = f1.node),
w1 AS (SELECT query_id, node FROM x1
       ANTI JOIN v0 USING (query_id, node)),
s1 AS (SELECT w1.query_id, w1.node,
    CAST(list_sum(list_transform(range(1, len(qq.q)+1), i -> qq.q[i]*nd.q[i]))
      AS DOUBLE) / (sqrt(CAST(qq.nrm AS DOUBLE)) * sqrt(CAST(nd.nrm AS DOUBLE)))
      AS cosine, 1 AS hops
  FROM w1 JOIN n nd ON nd.vec_id = w1.node
          JOIN qs qq ON qq.query_id = w1.query_id),
u1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM s1),
f2 AS (SELECT query_id, node FROM (
  SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, node) AS rn
  FROM u1 ANTI JOIN f1 USING (query_id, node)) WHERE rn <= 6),
x2 AS (SELECT DISTINCT f2.query_id, ge.dst AS node
       FROM f2 JOIN ge ON ge.src = f2.node),
w2 AS (SELECT query_id, node FROM x2
       ANTI JOIN u1 USING (query_id, node)),
s2 AS (SELECT w2.query_id, w2.node,
    CAST(list_sum(list_transform(range(1, len(qq.q)+1), i -> qq.q[i]*nd.q[i]))
      AS DOUBLE) / (sqrt(CAST(qq.nrm AS DOUBLE)) * sqrt(CAST(nd.nrm AS DOUBLE)))
      AS cosine, 2 AS hops
  FROM w2 JOIN n nd ON nd.vec_id = w2.node
          JOIN qs qq ON qq.query_id = w2.query_id),
vis AS (SELECT * FROM u1 UNION ALL SELECT * FROM s2)
SELECT query_id, node AS vec_id, cosine,
       CAST(rn AS INT) AS rank, CAST(hops AS INT) AS hops FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, node) AS rn FROM vis)
WHERE rn <= 6
"""


def _q_knn_graph_tpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE k-NN graph via random-projection-tree leaves — the
    reference's actual O(N * leaf * trees) graph build
    (NeighborhoodGraph.h:328-442) vs knn_graph's exact O(N^2) twin.
    Deterministic (md5-seeded projections, mean splits, exact int
    arithmetic), so DuckDB replays the identical forest."""
    from sptag_spark.operators.graph import build_knn_graph_tpt

    return build_knn_graph_tpt(
        _embeddings(spark, sf_dir), k=6, trees=8, depth=3
    )


def _tpt_ded_ctes(trees: int, depth: int, dim: int, seed: int) -> str:
    """Shared WITH-body replaying graph._tpt_stage + the per-leaf
    all-pairs scoring through the cross-tree dedup CTE `ded`: same
    literal md5 weights (graph._tpt_weights), same mean splits — row
    goes right iff p > floor(mean(p) over the node), expressed
    overflow-free at this scale as the integer multiply form
    p * count > sum (equivalent for integers) — same exact quantized
    cosine. Used by both the plain-TPT and the refined-graph oracles."""
    from sptag_spark.operators.graph import _tpt_weights

    W = _tpt_weights(trees, depth, dim, seed)

    def wlit(ws):
        return "[" + ",".join(str(w) for w in ws) + "]"

    tree_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, q, nrm, {t} AS tree, 0 AS node,\n    "
        + ",\n    ".join(
            "list_sum(list_transform(range(1, len(q)+1), "
            f"i -> q[i] * ({wlit(W[t][lv])})[i])) AS p{lv}"
            for lv in range(depth)
        )
        + "\n  FROM n"
        for t in range(trees)
    )
    sql = """
WITH v AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
  FROM embeddings),
n AS (SELECT vec_id, q,
    CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM v),
""" + f"l0 AS (\n  {tree_selects})"
    for lv in range(depth):
        keep_ps = ", ".join(f"p{j}" for j in range(lv + 1, depth))
        keep_ps = (", " + keep_ps) if keep_ps else ""
        sql += f""",
l{lv + 1} AS (SELECT vec_id, q, nrm, tree,
  node*2 + (CASE WHEN p{lv} * (count(*) OVER (PARTITION BY tree, node))
      > (sum(p{lv}) OVER (PARTITION BY tree, node))
    THEN 1 ELSE 0 END) AS node{keep_ps}
  FROM l{lv})"""
    sql += f""",
leafp AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]))
      AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      AS cosine
  FROM l{depth} a JOIN l{depth} b
    ON a.tree = b.tree AND a.node = b.node AND a.vec_id <> b.vec_id),
ded AS (SELECT src, dst, max(cosine) AS cosine FROM leafp GROUP BY 1, 2)"""
    return sql


def _knn_graph_tpt_oracle(
    k: int = 6, trees: int = 8, depth: int = 3, dim: int = 64,
    seed: int = 42,
) -> str:
    """Relational replay of build_knn_graph_tpt — see _tpt_ded_ctes —
    plus the per-src rank."""
    return _tpt_ded_ctes(trees, depth, dim, seed) + f"""
SELECT * FROM (
  SELECT src, dst, cosine,
         CAST(row_number() OVER (PARTITION BY src
              ORDER BY cosine DESC, dst) AS INT) AS rank
  FROM ded)
WHERE rank <= {k}
"""


def _knn_graph_refined_oracle(
    k: int = 6, trees: int = 4, depth: int = 3, iters: int = 2,
    dim: int = 64, seed: int = 42,
) -> str:
    """Relational replay of build_knn_graph_tpt + refine_knn_graph:
    the shared TPT forest CTEs, then per refinement iteration — base =
    edges UNION reversed edges, neighbor-of-neighbor expansion (self-
    join base on a.dst = b.src), distinct candidates, exact quantized-
    cosine re-rank, per-src top-k. UNION (not UNION ALL) replays the
    distinct; all arithmetic is exact ints -> IEEE doubles, so the
    hash matches bit-for-bit."""
    sql = _tpt_ded_ctes(trees, depth, dim, seed) + f""",
g0 AS (SELECT src, dst FROM (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src
              ORDER BY cosine DESC, dst) AS r
  FROM ded) WHERE r <= {k})"""
    for it in range(1, iters + 1):
        sql += f""",
b{it} AS (SELECT src, dst FROM g{it - 1}
  UNION SELECT dst, src FROM g{it - 1}),
c{it} AS (SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM b{it}
    UNION ALL
    SELECT a.src, b.dst FROM b{it} a JOIN b{it} b ON a.dst = b.src)
  WHERE src <> dst),
s{it} AS (SELECT c.src, c.dst,
    CAST(list_sum(list_transform(range(1, len(a.q)+1), i -> a.q[i]*b.q[i]))
      AS DOUBLE) / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      AS cosine
  FROM c{it} c JOIN n a ON a.vec_id = c.src JOIN n b ON b.vec_id = c.dst),
r{it} AS (SELECT src, dst, cosine,
         row_number() OVER (PARTITION BY src
              ORDER BY cosine DESC, dst) AS rank
  FROM s{it}),
g{it} AS (SELECT src, dst, cosine, rank FROM r{it} WHERE rank <= {k})"""
    sql += f"""
SELECT src, dst, cosine, CAST(rank AS INT) AS rank FROM g{iters}
"""
    return sql


def _q_knn_graph_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPT graph build + RefineGraph iterations (reference
    NeighborhoodGraph.h:444-465 — BuildInitKNNGraph then RefineGraph,
    loop :597-677, default m_iRefineIter=2 at :46): two rounds of
    reverse-edge + neighbor-of-neighbor candidate expansion with exact
    re-rank. Deterministic end-to-end, so DuckDB replays the full
    build + refine pipeline bit-identically."""
    from sptag_spark.operators.graph import (
        build_knn_graph_tpt,
        refine_knn_graph,
    )

    emb = _embeddings(spark, sf_dir)
    g0 = build_knn_graph_tpt(emb, k=6, trees=4, depth=3)
    return refine_knn_graph(g0, emb, k=6, iters=2)


def _q_graph_beam_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam search over the kNN graph — the reference's in-memory query
    path (BKTIndex.cpp SearchIndex: seed, then walk NeighborhoodGraph
    adjacency best-first): fixed md5-ordered seeds, 2 rounds of
    expand-the-best-unexpanded, undirected traversal, exact quantized
    scoring. Deterministic end-to-end, so DuckDB replays the seeds, the
    graph, both walk rounds and the final top-k bit-identically."""
    from sptag_spark.operators.graph import (
        build_knn_graph,
        graph_beam_search,
    )

    emb = _embeddings(spark, sf_dir)
    g = build_knn_graph(emb, k=6, n_blocks=None)
    qs = emb.filter("vec_id < 8")
    return graph_beam_search(g, emb, qs, k=6, beam=6, rounds=2,
                             n_seeds=6)


def _q_source_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the zipf-skewed source column
    (north rule: explicit salting for hot doc_id/source keys). The salt
    plan derives from observed counts; partial aggregation on
    (source, salt) means no reducer owns the hot key. Integer sums are
    associative, so the result is hash-identical to the plain GROUP BY
    the oracle runs."""
    from sptag_spark.operators.skew import salted_agg

    docs = _documents(spark, sf_dir).select("source", "n_chars")
    # target low enough that the dominant source actually salts at sf0.01
    return salted_agg(docs, "source", "n_chars", target_rows_per_task=100)


_SOURCE_STATS_SALTED_ORACLE = """
SELECT source,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       count(n_chars) AS count_n_chars,
       min(n_chars) AS min_n_chars,
       max(n_chars) AS max_n_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_n_chars
FROM documents GROUP BY source
"""


def _q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
        .withColumn(
            "avg_chars",
            F.col("sum_chars").cast("double") / F.col("n_docs"),
        )
    )


_CORPUS_ROLLUP_ORACLE = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(GROUPING(source) AS INT) AS g_source,
       CAST(GROUPING(lang) AS INT) AS g_lang,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
FROM documents GROUP BY ROLLUP(source, lang)
"""


# ---------------------------------------------------------------------------
# Corpus-preparation operators (operators/corpus.py): decontamination,
# sequence packing (windowed per-shard + blocked-cumsum global), mixture
# sampling/weighting, repetition stats.
# ---------------------------------------------------------------------------

def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the eval set is the deterministic
    doc_id % 20 == 0 slice; every remaining training doc is scored by
    3-gram overlap against it (broadcast semi-join of the small benchmark
    shingle set — the corpus itself never shuffles)."""
    from sptag_spark.operators.corpus import contamination_report

    docs = _documents(spark, sf_dir)
    return contamination_report(
        docs.filter("doc_id % 20 <> 0"), docs.filter("doc_id % 20 = 0"), n=3
    )


_DECONTAMINATE_ORACLE = _SHINGLES_CTE + """,
ce AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sh1
       FROM s WHERE doc_id % 20 <> 0),
be AS (SELECT DISTINCT doc_id AS bid, unnest(sh) AS sh1
       FROM s WHERE doc_id % 20 = 0),
hit AS (SELECT ce.doc_id,
               count(DISTINCT ce.sh1) AS n_hit,
               count(DISTINCT be.bid) AS n_bench_docs
        FROM ce JOIN be USING (sh1) GROUP BY 1)
SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_sh,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / len(s.sh) AS contamination,
       CAST(coalesce(h.n_hit, 0) > 0 AS INT) AS is_contaminated
FROM s LEFT JOIN hit h USING (doc_id)
WHERE s.doc_id % 20 <> 0
"""


_PACK_TOKS_CTE = """
WITH t AS (SELECT doc_id, source,
        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks
      FROM documents)
"""

_PACK_TAIL = """
SELECT {grp} doc_id, CAST(e.chunk_id AS BIGINT) AS chunk_id,
       CAST(greatest(e.chunk_id*64 - strt, 0) AS BIGINT) AS tok_begin,
       CAST(least((e.chunk_id+1)*64 - strt, toks) AS BIGINT) AS tok_end,
       CAST(greatest(strt - e.chunk_id*64, 0) AS BIGINT) AS pos_in_chunk
FROM e
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing, sharded by source (windows
    parallelize across shards; each doc→chunk span is exact integer
    math)."""
    from sptag_spark.operators.corpus import pack_chunks

    docs = _documents(spark, sf_dir).select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )
    return pack_chunks(docs, capacity=64)


_PACK_ORACLE = _PACK_TOKS_CTE + """,
o AS (SELECT doc_id, source, toks,
        CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id) - toks
          AS BIGINT) AS strt
      FROM t WHERE toks >= 1),
e AS (SELECT doc_id, source, toks, strt,
        unnest(generate_series(strt // 64, (strt + toks - 1) // 64))
          AS chunk_id
      FROM o)
""" + _PACK_TAIL.format(grp="source, ")


def _q_pack_sequences_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One global token stream packed via the two-phase BLOCKED cumsum
    (no single-partition window anywhere); the oracle is the naive global
    window — proving the distributed scan is value-identical to the
    sequential semantics."""
    from sptag_spark.operators.corpus import pack_chunks_global

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )
    return pack_chunks_global(docs, capacity=64, block_width=100)


_PACK_GLOBAL_ORACLE = _PACK_TOKS_CTE + """,
o AS (SELECT doc_id, toks,
        CAST(sum(toks) OVER (ORDER BY doc_id) - toks AS BIGINT) AS strt
      FROM t WHERE toks >= 1),
e AS (SELECT doc_id, toks, strt,
        unnest(generate_series(strt // 64, (strt + toks - 1) // 64))
          AS chunk_id
      FROM o)
""" + _PACK_TAIL.format(grp="")


_MIX_KEY_SQL = ("(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), "
                "1, 8))::BIGINT % 1000)")
_MIX_RATE_SQL = ("CASE source WHEN 'src0' THEN 700 WHEN 'src1' THEN 300 "
                 "WHEN 'src2' THEN 0 ELSE 100 END")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based mixture sampling: per-source keep rates
    (per-mille), zero-shuffle map-side filter, reproducible across
    engines and retries (md5 key, not rand())."""
    from sptag_spark.operators.corpus import stratified_sample

    docs = _documents(spark, sf_dir)
    return stratified_sample(
        docs, {"src0": 700, "src1": 300, "src2": 0}, default_rate=100
    )


_STRATIFIED_SAMPLE_ORACLE = f"""
SELECT *, {_MIX_KEY_SQL} AS sample_key,
       CAST({_MIX_RATE_SQL} AS BIGINT) AS sample_rate
FROM documents WHERE {_MIX_KEY_SQL} < {_MIX_RATE_SQL}
"""

_MIX_W_SQL = ("CASE source WHEN 'src0' THEN 2300 WHEN 'src1' THEN 1000 "
              "WHEN 'src2' THEN 500 ELSE 0 END")

# weighted_mix's fractional-copy coin uses salt 'mixcopy' (distinct from
# stratified_sample's 'mix' so composing sample+mix keeps the coin
# independent of the survival filter).
_MIXCOPY_KEY_SQL = (
    "(('0x' || substr(md5('mixcopy|' || CAST(doc_id AS VARCHAR)), "
    "1, 8))::BIGINT % 1000)")


def _q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting with UPsampling (epochs-per-source): weight
    2300 = every doc twice plus a 30% chance of a third copy; 1000 =
    identity; 500 = half. Copies are generated map-side
    (explode(sequence)), no shuffle."""
    from sptag_spark.operators.corpus import weighted_mix

    docs = _documents(spark, sf_dir)
    return weighted_mix(docs, {"src0": 2300, "src1": 1000, "src2": 500})


_WEIGHTED_MIX_ORACLE = f"""
WITH w AS (SELECT *, CAST({_MIX_W_SQL} AS BIGINT) AS wt,
                  {_MIXCOPY_KEY_SQL} AS k
           FROM documents),
c AS (SELECT *, CAST(wt // 1000
             + CASE WHEN k < wt % 1000 THEN 1 ELSE 0 END AS BIGINT)
         AS n_copies
      FROM w)
SELECT doc_id, text, lang, source, n_chars,
       CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
FROM c WHERE n_copies >= 1
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: share of each doc covered by its
    most frequent word bigram (lexicographic-smallest tiebreak)."""
    from sptag_spark.operators.corpus import repetition_stats

    return repetition_stats(_documents(spark, sf_dir))


_REPETITION_ORACLE = """
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
"""


def _q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 3-grams by document frequency (vocabulary/Zipf
    audit; seeds stop-phrase lists). Map-side-combinable count +
    TakeOrdered — never a corpus-wide window."""
    from sptag_spark.operators.corpus import top_ngrams

    return top_ngrams(_documents(spark, sf_dir), n=3, k=50)


_TOP_NGRAMS_ORACLE = _SHINGLES_CTE + """,
e AS (SELECT unnest(sh) AS ngram FROM s),
c AS (SELECT ngram, count(*) AS df_docs FROM e
      WHERE ngram IS NOT NULL GROUP BY 1),
r AS (SELECT ngram, CAST(df_docs AS BIGINT) AS df_docs,
        CAST(row_number() OVER (ORDER BY df_docs DESC, ngram ASC) AS INT)
          AS rank
      FROM c)
SELECT ngram, df_docs, rank FROM r WHERE rank <= 50
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "asof_join_union": _q_asof("union"),
        "asof_join_broadcast": _q_asof("broadcast"),
        "asof_join_merge": _q_asof("merge"),
        "asof_join_strict": _q_asof_strict,
        "asof_join_tolerance_1h": _q_asof_tolerance,
        "asof_join_salted": _q_asof_salted,
        "lag_lead": _q_lag_lead,
        "rolling_rows": _q_rolling_rows,
        "rolling_range_1h": _q_rolling_range,
        "sessionize": _q_sessionize,
        "session_agg": _q_session_agg,
        "backfill": _q_backfill,
        "topk_per_group": _q_topk_per_group,
        "global_topk": _q_global_topk,
        "text_stats": _q_text_stats,
        "lang_id": _q_lang_id,
        "quality_filter": _q_quality_filter,
        "doc_fingerprint": _q_doc_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_simhash": _q_dedup_simhash,
        "knn_cosine_topk": _q_knn_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "ivf_knn_topk": _q_ivf_knn,
        "ivf_replica_topk": _q_ivf_replica,
        "filtered_knn_topk": _q_filtered_knn,
        "paged_topk_budget": _q_paged_topk_budget,
        "paged_topk_budget_batch": _q_paged_topk_budget_batch,
        "lsh_near_dup": _q_lsh_near_dup,
        "pq_adc_topk": _q_pq_adc,
        "ivf_pq_adc_topk": _q_ivf_pq,
        "current_state_upsert": _q_current_state,
        "dedup_apply_anti": _q_dedup_apply,
        "rank_join_multi_index": _q_rank_join,
        "knn_graph": _q_knn_graph,
        "knn_graph_tpt": _q_knn_graph_tpt,
        "knn_graph_refined": _q_knn_graph_refined,
        "graph_beam_topk": _q_graph_beam_topk,
        "json_extract_agg": _q_json_extract,
        "source_stats_salted": _q_source_stats_salted,
        "corpus_stats_rollup": _q_corpus_rollup,
        "corpus_stats_cube": _q_corpus_cube,
        "decontaminate": _q_decontaminate,
        "pack_sequences": _q_pack_sequences,
        "pack_sequences_global": _q_pack_sequences_global,
        "stratified_sample": _q_stratified_sample,
        "weighted_mix": _q_weighted_mix,
        "repetition_stats": _q_repetition_stats,
        "corpus_top_ngrams": _q_top_ngrams,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "asof_join_union": _ASOF_ORACLE,
        "asof_join_broadcast": _ASOF_ORACLE,
        "asof_join_merge": _ASOF_ORACLE,
        "asof_join_strict": _ASOF_STRICT_ORACLE,
        "asof_join_tolerance_1h": _ASOF_TOL_ORACLE,
        "asof_join_salted": _ASOF_SALTED_ORACLE,
        "lag_lead": _LAG_LEAD_ORACLE,
        "rolling_rows": _ROLLING_ROWS_ORACLE,
        "rolling_range_1h": _ROLLING_RANGE_ORACLE,
        "sessionize": _SESSIONIZE_ORACLE,
        "session_agg": _SESSION_AGG_ORACLE,
        "backfill": _BACKFILL_ORACLE,
        "topk_per_group": _TOPK_ORACLE,
        "global_topk": _GLOBAL_TOPK_ORACLE,
        "text_stats": _TEXT_STATS_ORACLE,
        "lang_id": _lang_id_oracle(),
        "quality_filter": _QUALITY_FILTER_ORACLE,
        "doc_fingerprint": _DOC_FINGERPRINT_ORACLE,
        "dedup_exact": _DEDUP_EXACT_ORACLE,
        "dedup_jaccard": _DEDUP_JACCARD_ORACLE,
        "dedup_minhash_lsh": _minhash_lsh_oracle(12, 4),
        "dedup_simhash": _simhash_oracle(60, 3),
        "knn_cosine_topk": _KNN_ORACLE,
        "embedding_near_dup": _EMB_NEAR_DUP_ORACLE,
        "ivf_knn_topk": _IVF_ORACLE,
        "ivf_replica_topk": _IVF_REPLICA_ORACLE,
        "filtered_knn_topk": _FILTERED_KNN_ORACLE,
        "paged_topk_budget": _PAGED_BUDGET_ORACLE,
        "paged_topk_budget_batch": _PAGED_BUDGET_BATCH_ORACLE,
        "lsh_near_dup": _LSH_NEAR_DUP_ORACLE,
        "pq_adc_topk": _pq_adc_oracle(4, 16, 64, 10),
        "ivf_pq_adc_topk": _ivf_pq_oracle(),
        "current_state_upsert": _CURRENT_STATE_ORACLE,
        "dedup_apply_anti": _dedup_apply_oracle(12, 4, 0.5),
        "rank_join_multi_index": _RANK_JOIN_ORACLE,
        "knn_graph": _KNN_GRAPH_ORACLE,
        "graph_beam_topk": _GRAPH_BEAM_ORACLE,
        "knn_graph_tpt": _knn_graph_tpt_oracle(),
        "knn_graph_refined": _knn_graph_refined_oracle(),
        "json_extract_agg": _JSON_EXTRACT_ORACLE,
        "source_stats_salted": _SOURCE_STATS_SALTED_ORACLE,
        "corpus_stats_rollup": _CORPUS_ROLLUP_ORACLE,
        "corpus_stats_cube": _CORPUS_CUBE_ORACLE,
        "decontaminate": _DECONTAMINATE_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "pack_sequences_global": _PACK_GLOBAL_ORACLE,
        "stratified_sample": _STRATIFIED_SAMPLE_ORACLE,
        "weighted_mix": _WEIGHTED_MIX_ORACLE,
        "repetition_stats": _REPETITION_ORACLE,
        "corpus_top_ngrams": _TOP_NGRAMS_ORACLE,
    }
