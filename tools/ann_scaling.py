"""N -> 4N scaling evidence for the ANN index pipeline (VERDICT r3 #6:
token, dedup and prepare_corpus all have measured campaigns; this one
drives jobs/ann_index.py build + a 10^4-query wave probe — the
IVF-PQ build (assign + encode + bucketed postings write) and the
wave-mode (DPP-pruned) ADC probe with exact re-rank).

Protocol (identical to tools/prep_scaling.py / corpus_scaling.py):
deterministic synthetic clustered embeddings written as 64 files so the
scan parallelizes at 4N; fresh JVM per run; in-JVM warmup on a small
corpus the first iteration of each level; INTERLEAVED N/4N repeats
(host stalls land on both levels equally); min-of-N as the capability
metric. Build and probe are timed separately (BENCH_r04 attribution
rule) and each gets its own efficiency.

Usage: python tools/ann_scaling.py [n_vecs] [N] [repeats] [n_queries]
Prints one JSON line; the BENCH.md section is maintained by hand.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DIM = 64
N_CLUSTERS = 512          # true generative clusters (heads find ~them)
CENTROIDS = 256
M, K_CODES = 8, 16
REPLICAS = 2              # exercise the r4 RNG multi-assignment layout
NPROBE, K, RERANK = 4, 10, 64


def _load_cli():
    spec = importlib.util.spec_from_file_location(
        "ann_index_job", os.path.join(REPO, "jobs", "ann_index.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def gen_embeddings(spark, n: int, out: str, salt: str) -> None:
    """Deterministic clustered float vectors: cluster center + 0.15x
    per-id noise, both hash-drawn — same shape every run, real cluster
    structure for IVF to exploit."""
    from pyspark.sql import functions as F

    h = lambda *c: F.abs(F.xxhash64(*c))  # noqa: E731
    rng = spark.range(0, n, 1, 64)
    cluster = h(F.col("id"), F.lit(salt + "c")) % N_CLUSTERS
    unit = lambda *c: (h(*c) % 2001).cast("double") / 1000.0 - 1.0  # noqa: E731
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (unit(cluster, i, F.lit("ctr"))
                   + unit(F.col("id"), i, F.lit(salt + "nz")) * 0.15
                   ).cast("float"),
    )
    rng.select(F.col("id").alias("vec_id"), emb.alias("embedding")) \
        .repartition(64).write.mode("overwrite").parquet(out)


def _one_run(cores: int, corpus: str, queries: str, warm_corpus: str,
             warm_queries: str, out_root: str, warmup: bool):
    from sptag_spark.session import get_spark, stop_spark

    stop_spark()
    spark = get_spark(app_name=f"ann_scaling_{cores}", cores=cores,
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    cli = _load_cli()
    root = f"{out_root}/c{cores}"
    if warmup:
        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(["build", "--in", warm_corpus,
                      "--index", f"{root}/warm_idx", "--type", "ivf_pq",
                      "--centroids", "32", "--m", str(M),
                      "--k-codes", str(K_CODES)])
            cli.main(["search", "--index", f"{root}/warm_idx",
                      "--queries", warm_queries,
                      "--out", f"{root}/warm_res", "--k", str(K),
                      "--nprobe", str(NPROBE), "--driver-probe-limit", "0"])
    t0 = time.time()
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(["build", "--in", corpus, "--index", f"{root}/idx",
                  "--type", "ivf_pq", "--centroids", str(CENTROIDS),
                  "--m", str(M), "--k-codes", str(K_CODES),
                  "--replica-count", str(REPLICAS)])
    t1 = time.time()
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(["search", "--index", f"{root}/idx", "--queries", queries,
                  "--out", f"{root}/res", "--k", str(K),
                  "--nprobe", str(NPROBE), "--rerank", str(RERANK),
                  "--driver-probe-limit", "0"])
    t2 = time.time()
    stop_spark()
    return t1 - t0, t2 - t1


def main() -> int:
    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    small_n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_queries = int(sys.argv[4]) if len(sys.argv) > 4 else 12_000
    big_n = 4 * small_n

    from sptag_spark.session import get_spark, stop_spark

    tmp = tempfile.mkdtemp(prefix="ann_scaling_")
    corpus = os.path.join(tmp, "emb")
    queries = os.path.join(tmp, "queries")
    warm_corpus = os.path.join(tmp, "warm_emb")
    warm_queries = os.path.join(tmp, "warm_queries")
    out_root = os.path.join(tmp, "out")
    spark = get_spark(app_name="ann_scaling_gen", cores=8,
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    gen_embeddings(spark, n_vecs, corpus, salt="base")
    gen_embeddings(spark, n_queries, queries, salt="qry")
    gen_embeddings(spark, 5_000, warm_corpus, salt="warmb")
    gen_embeddings(spark, 500, warm_queries, salt="warmq")
    stop_spark()

    res = {c: {"build": [], "probe": []} for c in (small_n, big_n)}
    for i in range(repeats):
        for c in (small_n, big_n):
            b, p = _one_run(c, corpus, queries, warm_corpus, warm_queries,
                            out_root, warmup=(i == 0))
            res[c]["build"].append(b)
            res[c]["probe"].append(p)

    def level(c):
        b, p = res[c]["build"], res[c]["probe"]
        t = [x + y for x, y in zip(b, p)]
        return {
            "cores": c,
            "build_sec": [round(x, 2) for x in b],
            "probe_sec": [round(x, 2) for x in p],
            "build_min": round(min(b), 2), "probe_min": round(min(p), 2),
            "total_min": round(min(t), 2),
            "total_median": round(statistics.median(t), 2),
            "vecs_per_sec_build": round(n_vecs / min(b), 1),
            "queries_per_sec_probe": round(n_queries / min(p), 1),
        }

    s, b = level(small_n), level(big_n)
    ratio = big_n / small_n
    eff = lambda k: round((s[k] / b[k]) / ratio, 3)  # noqa: E731
    out = {
        "metric": "ann_index_scaling_Nto4N",
        "value": eff("total_min"),
        "unit": "fraction",
        "eff_build": eff("build_min"),
        "eff_probe": eff("probe_min"),
        "n_vecs": n_vecs, "n_queries": n_queries, "dim": DIM,
        "config": {"type": "ivf_pq", "centroids": CENTROIDS, "m": M,
                   "k_codes": K_CODES, "replica_count": REPLICAS,
                   "nprobe": NPROBE, "k": K, "rerank": RERANK,
                   "driver_probe_limit": 0},
        "small": s, "big": b,
        "pass": eff("total_min") >= 0.8,
    }
    print(json.dumps(out))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
