"""Per-query isolation harness for optimization work (guide §1.4/§1.5).

`bench.py` is FROZEN for driver measurement; this file is the working
bench: it times a SUBSET of the declared queries with the same
methodology (noop sink, fresh DataFrame per repeat, min-of-N over
interleaved passes) so a single query can be iterated on without paying
for the whole suite, and can dump `.explain("formatted")` plans to
plans/r07/.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --explain=plans/r07 --suffix=_before q1 q2
    SPARK_GRAFT_BENCH_REPEATS=0 python bench_extra.py --explain=DIR q1
                                           # write the plans, time nothing
    python bench_extra.py --all            # every declared query

Env:
    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     core count (default 32)
    SPARK_GRAFT_BENCH_REPEATS  timed passes after the warm pass (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    explain_dir = None
    suffix = ""
    names: list[str] = []
    want_all = False
    for arg in sys.argv[1:]:
        if arg.startswith("--explain="):
            explain_dir = arg.split("=", 1)[1]
        elif arg.startswith("--suffix="):
            suffix = arg.split("=", 1)[1]
        elif arg == "--all":
            want_all = True
        else:
            names.append(arg)

    import __spark_entry__ as ent
    from sptag_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cores=cpus,
                      shuffle_partitions=2 * int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    qfns = ent.queries()
    if want_all:
        names = list(qfns)
    unknown = [n for n in names if n not in qfns]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # Same session warm-up as bench.py: JVM codegen + Arrow worker pool.
    from pyspark.sql import Window, functions as F
    warm = spark.range(100_000).withColumn(
        "r", F.row_number().over(Window.partitionBy(F.col("id") % 8)
                                 .orderBy("id")))
    materialize(warm)

    def _identity(batches):
        yield from batches
    materialize(spark.range(10_000).repartition(int(cpus))
                .mapInArrow(_identity, schema="id long"))
    materialize(
        spark.range(4_000).withColumn("g", F.col("id") % 16)
        .groupBy("g").applyInPandas(lambda p: p, schema="id long, g long")
    )

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        for name in names:
            df = qfns[name](spark, sf_dir)
            path = os.path.join(explain_dir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {path}")
    if repeats == 0:  # plans only: no warm pass, no timing summary
        spark.stop()
        return 0

    samples: dict[str, list[float]] = {n: [] for n in names}
    for name in names:  # warm pass, untimed
        spark.sparkContext.setJobDescription(f"warm:{name}")
        materialize(qfns[name](spark, sf_dir))
    for i in range(repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"r{i}:{name}")
            t0 = time.time()
            materialize(qfns[name](spark, sf_dir))
            samples[name].append(time.time() - t0)
    out = {
        "sf_dir": sf_dir,
        "repeats": repeats,
        "queries": {n: round(min(t), 3) for n, t in samples.items()},
        "spread": {n: round(max(t) - min(t), 3) for n, t in samples.items()},
        "samples": {n: [round(x, 3) for x in t] for n, t in samples.items()},
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
