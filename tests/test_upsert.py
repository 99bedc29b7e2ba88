"""Upsert / tombstone tests on hand-built frames (reference
AlgoTest add/delete golden pattern, AlgoTest.cpp:217-231)."""

from __future__ import annotations

import pytest

from sptag_spark.operators.upsert import (
    apply_deletes,
    upsert_latest,
)

COLS = ["doc_id", "version", "ts", "payload"]


@pytest.fixture(scope="module")
def frames(spark):
    base = spark.createDataFrame(
        [("a", 1, 10, "a1"), ("b", 1, 10, "b1"), ("c", 1, 10, "c1")], COLS
    )
    updates = spark.createDataFrame(
        [("a", 2, 20, "a2"),          # newer version: replaces
         ("b", 1, 5, "b-late"),       # same version, older ts: loses
         ("d", 1, 30, "d1")],         # new key: insert
        COLS,
    )
    return base, updates


def test_upsert_latest(frames):
    base, updates = frames
    got = {r["doc_id"]: r["payload"]
           for r in upsert_latest(base, updates, ["doc_id"], "ts",
                                  version_col="version").collect()}
    assert got == {"a": "a2", "b": "b1", "c": "c1", "d": "d1"}


def test_apply_deletes(frames, spark):
    base, _ = frames
    dels = spark.createDataFrame([("b",)], ["doc_id"])
    got = {r["doc_id"] for r in apply_deletes(base, dels, ["doc_id"]).collect()}
    assert got == {"a", "c"}


def test_merge_then_delete_roundtrip(frames, spark):
    """Full T1->T3 lifecycle: upsert, tombstone, upsert again (the
    reference's add/delete/re-add golden sequence)."""
    base, updates = frames
    state = upsert_latest(base, updates, ["doc_id"], "ts",
                          version_col="version")
    state = apply_deletes(state, spark.createDataFrame([("a",)], ["doc_id"]),
                          ["doc_id"])
    readd = spark.createDataFrame([("a", 3, 40, "a3")], COLS)
    state = upsert_latest(state, readd, ["doc_id"], "ts",
                          version_col="version")
    got = {r["doc_id"]: r["payload"] for r in state.collect()}
    assert got == {"a": "a3", "b": "b1", "c": "c1", "d": "d1"}
