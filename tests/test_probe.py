"""The shared probe pipeline (operators/probe.py): every persisted-index
entry point picks driver or wave from one bounded collect, and the two
sides must return the same bits under different pruning plans."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from sptag_spark.operators.bkt import bkt_build, bkt_probe
from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe
from sptag_spark.operators.knn import (
    ivf_build,
    ivf_probe,
    relaxed_mono_topk,
    relaxed_mono_topk_batch,
)

SF = "/root/testdata/sf0.001"
ENTRIES = ("ivf", "ivf_pq", "bkt", "budget")


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def indexes(emb, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("probe_idx"))
    ivf_build(emb, 16, f"{root}/ivf")
    ivf_pq_build(emb, n_centroids=16, path=f"{root}/ivf_pq")
    bkt_build(emb, f"{root}/bkt", branch=4, leaf_max=32, cell_iters=5)
    return root


def _probe(spark, root, entry, q, **kw):
    path = f"{root}/{entry}"
    if entry == "ivf":
        return ivf_probe(spark, path, q, k=5, nprobe=3, **kw)
    if entry == "ivf_pq":
        return ivf_pq_probe(spark, path, q, k=5, nprobe=3, rerank=16, **kw)
    if entry == "bkt":
        return bkt_probe(spark, path, q, k=5, nprobe=4, **kw)
    return relaxed_mono_topk_batch(spark, f"{root}/ivf", q, k=5,
                                   max_check=80, **kw)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Spark jobs each entry point launched while building its plan (probe
# selection, before any scoring job) for an 8-query batch with the same
# fixture. `ivf` and `bkt` were measured at the parent of the
# shared-pipeline change; `ivf_pq`, `budget` and `cursor` (the
# single-query budget cursor on the flat IVF index) after the index meta
# became a driver-side pyarrow read (knn._read_tiny_parquet).
PARENT_JOBS = {"ivf": 2, "ivf_pq": 4, "bkt": 8, "budget": 2, "cursor": 1}


@pytest.mark.parametrize("entry", ENTRIES + ("cursor",))
def test_driver_batch_launches_no_more_jobs_than_before(
        spark, emb, indexes, entry):
    """A small batch pays its probe selection in few cluster jobs: the
    count of jobs launched before scoring may only go down."""
    sc = spark.sparkContext
    q = emb.filter("vec_id < 8")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    group = f"probe-jobs-{entry}"
    sc.setJobGroup(group, group)
    try:
        if entry == "cursor":
            relaxed_mono_topk(spark, f"{indexes}/ivf", qvec, k=5,
                              max_check=80)
        else:
            _probe(spark, indexes, entry, q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= PARENT_JOBS[entry], (entry, n_jobs)


@pytest.mark.parametrize("entry", ENTRIES)
def test_driver_probe_limit_gate_both_sides(spark, emb, indexes, entry,
                                            tmp_path):
    """At driver_probe_limit = n_queries the batch selects probes on the
    driver (static bucket IN partition filter); one below, the same
    batch runs as a wave (side table + dynamic partition pruning). Both
    sides must return the same bits."""
    q = emb.filter("vec_id < 16")
    n = q.count()
    driver = _probe(spark, indexes, entry, q, driver_probe_limit=n)
    wave = _probe(spark, indexes, entry, q, driver_probe_limit=n - 1,
                  probe_scratch_dir=str(tmp_path))
    static_in = r"PartitionFilters: \[[^\]]*bucket#\d+ IN"
    p_driver, p_wave = _plan(driver), _plan(wave)
    assert re.search(static_in, p_driver), p_driver
    assert "dynamicpruningexpression" not in p_driver, p_driver
    assert "dynamicpruningexpression" in p_wave, p_wave
    assert not re.search(static_in, p_wave), p_wave
    a = sorted(map(tuple, driver.collect()))
    b = sorted(map(tuple, wave.collect()))
    assert a == b and len(a) >= n
