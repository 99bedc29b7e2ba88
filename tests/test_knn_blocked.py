"""Blocked all-pairs near-dup: bit-identity with the expression path
(reference Check()-style self-consistency) across block counts."""

from __future__ import annotations

import pytest

from sptag_spark.operators.knn import (
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_blocked,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.mark.parametrize("n_blocks", [1, 3, 8])
def test_blocked_equals_expression_path(emb, n_blocks):
    want = {(r["id_a"], r["id_b"], r["cosine"])
            for r in cosine_near_dup_pairs(emb, threshold=0.3).collect()}
    got = {(r["id_a"], r["id_b"], r["cosine"])
           for r in cosine_near_dup_pairs_blocked(
               emb, threshold=0.3, n_blocks=n_blocks).collect()}
    assert got == want  # bit-identical cosines, exact same pair set
    assert len(got) > 0  # threshold chosen to be non-trivial


def test_no_self_or_reversed_pairs(emb):
    rows = cosine_near_dup_pairs_blocked(emb, threshold=0.3,
                                         n_blocks=4).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    # no duplicates across block pairs
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_lsh_near_dup_recall_and_precision(emb):
    """Sign-LSH candidates + exact verify: precision must be 1 (emitted
    cosines are exact and thresholded); recall gated vs the exact pairs
    (reference recall-harness style)."""
    from sptag_spark.operators.knn import (
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in cosine_near_dup_pairs(emb, threshold=0.3).collect()}
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in lsh_near_dup_pairs(emb, threshold=0.3).collect()}
    # precision 1: every returned pair is a true pair with the exact value
    for k, v in got.items():
        assert k in exact and exact[k] == v
    # recall: sign-LSH with 8 bands of 4 bits on cosine~0.3 pairs
    recall = len(got) / len(exact)
    assert recall >= 0.5, f"recall = {recall}"


def test_lsh_block_mode_equals_banded_mode(emb):
    """The fused blocked LSH scorer must emit the exact pair set (with
    bit-identical cosines) of the banded candidate-join plan: both
    compute {pairs agreeing on >= 1 sketch band} ∩ {cosine >= thr}."""
    from sptag_spark.operators.knn import lsh_near_dup_pairs

    banded = {(r["id_a"], r["id_b"]): r["cosine"]
              for r in lsh_near_dup_pairs(
                  emb, threshold=0.3, mode="banded").collect()}
    block = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in lsh_near_dup_pairs(
                 emb, threshold=0.3, mode="block").collect()}
    assert block == banded and len(block) > 0


def test_exact_dedup_engines_identical(spark):
    """exact_dedup (Arrow fingerprints) against the fingerprints of the
    JVM doc_fingerprint expression, grouped here in Python."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from sptag_spark.functions.text import doc_fingerprint
    from sptag_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "fp", "canonical_doc_id", "n_copies", "is_duplicate"]
    a = {tuple(r[c] for c in cols) for r in exact_dedup(docs).collect()}
    ids_by_fp = defaultdict(list)
    for r in docs.select("doc_id", doc_fingerprint(F.col("text"))
                         .alias("fp")).collect():
        if r["fp"] is not None:
            ids_by_fp[r["fp"]].append(r["doc_id"])
    e = {(i, fp, min(ids), len(ids), int(i != min(ids)))
         for fp, ids in ids_by_fp.items() for i in ids}
    assert a == e and len(a) == docs.count()
