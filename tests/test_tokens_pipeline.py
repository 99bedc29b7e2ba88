"""Tokenized-corpus tests: datagen invariants, kernel-tier equivalence,
parquet round-trip token equality, pipeline self-check, resume idempotence.

Reference analogs: DistanceTest.cpp:114-121 (SIMD==scalar), AlgoTest golden
determinism, BKTIndex.cpp:1207-1245 Check() self-consistency, SPANN/Index.h:
256-281 checkpoint/recovery.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sptag_spark.datagen import gen_asof_probes, gen_sequences
from sptag_spark.functions.tokens import (
    with_arrow_token_features,
    with_token_features_expr,
)
from sptag_spark.pipeline import featurize, run_pipeline, serve_asof
from sptag_spark.sources.manifest import ManifestLayoutError, run_resumable
from sptag_spark.sources.tables import read_parquet

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    seqs = gen_sequences(spark, N_DOCS)
    seqs.write.mode("overwrite").parquet(str(d / "sequences.parquet"))
    written = spark.read.parquet(str(d / "sequences.parquet"))
    gen_asof_probes(spark, written, 200).write.mode("overwrite").parquet(
        str(d / "probes.parquet")
    )
    return d


def test_schema_matches_input_hint(spark, corpus):
    seqs = spark.read.parquet(str(corpus / "sequences.parquet"))
    fields = {f.name: f.dataType.simpleString() for f in seqs.schema.fields}
    assert fields["doc_id"] == "string"
    assert fields["tokens"] == "array<int>"
    assert fields["n_tok"] == "int"
    assert fields["source"] == "string"


def test_n_tok_invariant_and_vocab(spark, corpus):
    seqs = spark.read.parquet(str(corpus / "sequences.parquet"))
    bad = seqs.filter(
        (F.size("tokens") != F.col("n_tok"))
        | (F.array_max("tokens") >= 50257)
        | (F.array_min("tokens") < 0)
        | (F.col("n_tok") < 8) | (F.col("n_tok") > 511)
    ).count()
    assert bad == 0


def test_token_roundtrip_exact(spark, corpus):
    """Token arrays written to parquet and read back are exactly equal
    (int32 end to end) — BASELINE.json per-row invariant."""
    direct = gen_sequences(spark, N_DOCS).select("doc_id", "version", "tokens")
    read_back = spark.read.parquet(str(corpus / "sequences.parquet")).select(
        "doc_id", "version", "tokens"
    )
    a = direct.toPandas().sort_values(["doc_id", "version"]).reset_index(drop=True)
    b = read_back.toPandas().sort_values(["doc_id", "version"]).reset_index(drop=True)
    assert len(a) == len(b)
    for x, y in zip(a["tokens"], b["tokens"]):
        ax, ay = np.asarray(x), np.asarray(y)
        assert ax.dtype == ay.dtype == np.int32
        assert np.array_equal(ax, ay)


def test_kernel_tiers_agree(spark, corpus):
    seqs = spark.read.parquet(str(corpus / "sequences.parquet"))
    cols = ["doc_id", "version", "tok_sum", "tok_mean", "tok_distinct",
            "tok_frac_small", "tok_fingerprint"]
    a = (with_token_features_expr(seqs).select(cols).toPandas()
         .sort_values(["doc_id", "version"]).reset_index(drop=True))
    b = (with_arrow_token_features(seqs).select(cols).toPandas()
         .sort_values(["doc_id", "version"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # pure-Python golden for the fingerprint on a sample (independent of
    # both kernels — the scalar oracle of DistanceTest.cpp:114-121)
    sample = (seqs.limit(25).select("doc_id", "version", "tokens").toPandas())
    merged = sample.merge(a, on=["doc_id", "version"])
    for _, r in merged.iterrows():
        acc, pw = 0, 1
        for t in r["tokens"]:
            acc = (acc + int(t) * pw) % 2147483647
            pw = (pw * 31) % 2147483647
        assert acc == r["tok_fingerprint"]


def test_serve_asof_matches_duckdb_on_corpus(spark, corpus):
    """North-rule flagship on the token corpus: per (doc_id, asof_ts) the
    served feature row equals the DuckDB window-SQL oracle."""
    import duckdb

    feats = featurize(spark.read.parquet(str(corpus / "sequences.parquet")))
    probes = spark.read.parquet(str(corpus / "probes.parquet"))
    got = serve_asof(feats, probes).select(
        "qid", "doc_id", "asof_ts", "matched_ts", "n_tok", "version",
        "roll3r_sum_n_tok",
    ).toPandas().sort_values("qid").reset_index(drop=True)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW seq AS SELECT * FROM '{corpus}/sequences.parquet/*.parquet'")
    con.execute(f"CREATE VIEW probes AS SELECT * FROM '{corpus}/probes.parquet/*.parquet'")
    want = con.sql("""
        WITH feat AS (
          SELECT doc_id, ts, n_tok, version,
                 CAST(sum(n_tok) OVER (PARTITION BY doc_id ORDER BY ts, version
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS roll3r_sum_n_tok
          FROM seq)
        SELECT p.qid, p.doc_id, p.asof_ts, f.ts AS matched_ts, f.n_tok,
               f.version, f.roll3r_sum_n_tok
        FROM probes p
        ASOF LEFT JOIN feat f ON p.doc_id = f.doc_id AND p.asof_ts >= f.ts
        ORDER BY p.qid
    """).df()
    from tests.util import normalize
    pd.testing.assert_frame_equal(
        normalize(got), normalize(want), check_dtype=False
    )


def test_pipeline_self_check_no_leakage(spark, corpus):
    """Check() analog: serving at a row's own ts from the FULL table equals
    the same features computed from the table truncated at that ts."""
    seqs = spark.read.parquet(str(corpus / "sequences.parquet"))
    sample = seqs.filter(F.col("version") >= 1).limit(20).select(
        F.monotonically_increasing_id().alias("qid"),
        "doc_id", F.col("ts").alias("asof_ts"),
    ).cache()
    full = serve_asof(featurize(seqs), sample).select(
        "qid", "doc_id", "matched_ts", "n_tok", "version", "tok_fingerprint"
    )
    cutoff = sample.agg(F.max("asof_ts")).collect()[0][0]
    # truncate per probe: join then filter keeps only rows <= each asof_ts
    # (global truncation at max asof_ts would be weaker) — emulate by
    # re-serving from a table truncated at each probe's own ts via the
    # strictest global cut that still contains every probe's answer:
    del cutoff
    results_full = full.toPandas().sort_values("qid").reset_index(drop=True)
    # per-probe truncation oracle in pandas
    seq_pd = seqs.select("doc_id", "ts", "n_tok", "version").toPandas()
    probes_pd = sample.toPandas()
    for _, p in probes_pd.iterrows():
        vis = seq_pd[(seq_pd.doc_id == p.doc_id) & (seq_pd.ts <= p.asof_ts)]
        row = results_full[results_full.qid == p.qid].iloc[0]
        assert not vis.empty
        best = vis.sort_values(["ts", "version"]).iloc[-1]
        assert row["version"] == best["version"]
        assert row["n_tok"] == best["n_tok"]
        assert row["matched_ts"] == best["ts"]


def test_resume_idempotent_digest(spark, corpus, tmp_path):
    """Kill after 3 buckets, resume, final digest == single-run digest."""
    def source(s):
        return s.read.parquet(str(corpus / "sequences.parquet"))

    def process(df):
        return featurize(df).drop("tokens")

    out_a = str(tmp_path / "single")
    stats_a = run_resumable(spark, source, process, out_a, key="doc_id",
                            n_buckets=8, ts_col="ts")
    out_b = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, source, process, out_b, key="doc_id",
                      n_buckets=8, ts_col="ts", fail_after=3)
    from sptag_spark.sources.manifest import Manifest
    assert len(Manifest(out_b).done_buckets()) == 3
    stats_b = run_resumable(spark, source, process, out_b, key="doc_id",
                            n_buckets=8, ts_col="ts")
    assert stats_b["buckets_done"] == 8
    assert stats_a["rows"] == stats_b["rows"]
    assert stats_a["digest"] == stats_b["digest"]


@pytest.mark.parametrize("changed", [{"n_buckets": 8}, {"key": "source"}])
def test_resume_rejects_changed_layout(spark, corpus, tmp_path, changed):
    """Buckets cut under one (key, n_buckets) never mix with another's:
    a resume under a changed layout raises instead of returning extra
    rows."""
    def source(s):
        return s.read.parquet(str(corpus / "sequences.parquet"))

    out = str(tmp_path / "out")
    layout = {"key": "doc_id", "n_buckets": 4}
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, source, featurize, out, fail_after=2, **layout)
    with pytest.raises(ManifestLayoutError, match="key='doc_id', n_buckets=4;"):
        run_resumable(spark, source, featurize, out, **{**layout, **changed})


def test_run_pipeline_metrics(spark, corpus, tmp_path):
    m = run_pipeline(
        spark,
        str(corpus / "sequences.parquet"),
        str(corpus / "probes.parquet"),
        out_path=str(tmp_path / "out.parquet"),
    )
    assert m["rows_out"] == 200
    assert m["sequences"] > 0 and m["tokens"] > 0
    assert m["sequences_per_sec"] > 0


def _recount(spark, corpus) -> dict:
    seqs = spark.read.parquet(str(corpus / "sequences.parquet"))
    stats = seqs.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_tok").alias("t")).first()
    probes = spark.read.parquet(str(corpus / "probes.parquet"))
    served = serve_asof(featurize(seqs), probes)
    return {"rows_out": served.count(), "sequences": stats["n"],
            "tokens": stats["t"]}


@pytest.mark.parametrize("sink", ["noop", "parquet"])
def test_run_pipeline_counts_come_from_the_sink_job(spark, corpus, tmp_path,
                                                    sink):
    """The row and token counts are observed during the sink job: a noop
    call launches at most 3 jobs (9 before the counts were observed; the
    recounts re-ran the union shuffle and re-scanned the corpus; 5 before
    both reads took their schema from the footers), and the counts equal
    a separate count() and agg over the same inputs."""
    sc = spark.sparkContext
    out = str(tmp_path / "out.parquet") if sink == "parquet" else None
    group = f"run-pipeline-{sink}"
    sc.setJobGroup(group, group)
    try:
        m = run_pipeline(spark, str(corpus / "sequences.parquet"),
                         str(corpus / "probes.parquet"), out_path=out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    if sink == "noop":
        assert n_jobs <= 3, n_jobs
    assert {k: m[k] for k in ("rows_out", "sequences", "tokens")} \
        == _recount(spark, corpus)
    if out:
        assert spark.read.parquet(out).count() == m["rows_out"]


@pytest.mark.parametrize("sink", ["noop", "parquet"])
def test_run_pipeline_on_empty_sequences(spark, corpus, tmp_path, sink):
    """A schema-only sequences table yields zero sequences and tokens
    (the sum over no rows is null) instead of a TypeError; every probe
    still comes back, unmatched."""
    empty = str(tmp_path / "empty.parquet")
    spark.read.parquet(str(corpus / "sequences.parquet")).limit(0) \
        .write.parquet(empty)
    out = str(tmp_path / "out.parquet") if sink == "parquet" else None
    m = run_pipeline(spark, empty, str(corpus / "probes.parquet"),
                     out_path=out)
    assert (m["rows_out"], m["sequences"], m["tokens"]) == (200, 0, 0)
    assert m["sequences_per_sec"] == m["tokens_per_sec"] == 0
    m = run_pipeline(spark, empty, out_path=out)
    assert (m["rows_out"], m["sequences"], m["tokens"]) == (0, 0, 0)


def _served(spark, corpus, strategy="union"):
    """serve_asof over featurize, read the way run_pipeline reads."""
    seqs = read_parquet(spark, str(corpus / "sequences.parquet"))
    probes = read_parquet(spark, str(corpus / "probes.parquet"))
    return serve_asof(featurize(seqs), probes, strategy=strategy)


def test_run_pipeline_plan_shuffles_feature_rows_once(spark, corpus):
    """The as-of reuses the feature window's doc_id partitioning: the
    feature rows cross one Exchange (the window's), the probes one."""
    from tests.util import union_exchanges

    assert union_exchanges(_served(spark, corpus)) == (0, 1, 1)


def test_union_equals_merge_under_uneven_coalescing(spark, corpus):
    """AQE coalesces the probe and the feature shuffle to different sizes
    when left alone; the union must still line their partitions up."""
    from sptag_spark.sources.manifest import digest_frame

    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        assert digest_frame(_served(spark, corpus)) \
            == digest_frame(_served(spark, corpus, "merge"))
    finally:
        for k in conf:
            spark.conf.unset(k)


def test_write_corpus_probes_equal_gen_asof_probes(spark, tmp_path):
    """write_corpus draws its probes from n_docs; gen_asof_probes counts
    the distinct doc_ids of the corpus it is given. Same rows."""
    from sptag_spark.datagen import write_corpus

    write_corpus(spark, str(tmp_path), n_docs=120, n_probes=80, seed=3)
    seqs = spark.read.parquet(str(tmp_path / "sequences.parquet"))
    got = spark.read.parquet(str(tmp_path / "asof_probes.parquet"))
    want = gen_asof_probes(spark, seqs, 80, seed=3)
    assert sorted(got.collect()) == sorted(want.collect())


def test_kernel_sliced_list_array():
    """A sliced ListArray (pq.read_table(...).to_batches(max_chunksize))
    keeps its parent's offsets; its features equal an unsliced copy's."""
    import pyarrow as pa

    from sptag_spark.functions.tokens import _batch_features

    rng = np.random.default_rng(2)
    rows = [list(rng.integers(0, 50257, n)) if n else []
            for n in rng.integers(0, 40, 500)]
    la = pa.array(rows, pa.list_(pa.int32()))
    for start, length in [(0, 100), (137, 200), (480, 20), (250, 0)]:
        got = _batch_features(la.slice(start, length))
        want = _batch_features(pa.array(rows[start:start + length],
                                        pa.list_(pa.int32())))
        for k in want:
            np.testing.assert_array_equal(got[k], want[k])


def test_kernel_wide_vocab_path():
    """Tokenizers with vocab >= 2^16 (e.g. 100k BPE) take the int64
    distinct/sum path; values must stay exact."""
    import numpy as np
    import pyarrow as pa

    from sptag_spark.functions.tokens import _batch_features

    rng = np.random.default_rng(1)
    lens = rng.integers(1, 50, 300)
    flat = rng.integers(0, 200_000, lens.sum()).astype(np.int32)
    offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    la = pa.ListArray.from_arrays(pa.array(offs), pa.array(flat))
    f = _batch_features(la)
    for r in range(len(lens)):
        seg = flat[offs[r]:offs[r + 1]]
        assert f["tok_sum"][r] == seg.astype(np.int64).sum()
        assert f["tok_distinct"][r] == len(np.unique(seg))
