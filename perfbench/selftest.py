#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny input runs every operation of a cycle
with tracing on, every per-layer metric comes out finite, every gate passes
on the real outputs, and every gate fails on deliberately corrupted ones.

    python3 perfbench/selftest.py

Exits 0 when every check holds. Takes about a minute.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

# one hot block (800+ conversations) and two small ones: both scoring routes
TINY = {"n_blocks": 3, "hot_blocks": 1, "ref_blocks": 0}


def checks(spark, bench, tracer, cores):
    import pyspark.sql.functions as F

    import gates
    import layers

    fresh = bench.first["fresh"]
    a = fresh.assignments
    digest = bench.conv_digest
    fresh_digest = gates.digest(a, ["conv_id", "cluster_id"])
    once = lambda df: gates.assigned_once(df, digest)[0]  # noqa: E731
    sink = spark.read.parquet(os.path.join(bench.work, "stream-0", "sink"))
    one = a.limit(1)
    renamed = a.withColumn(
        "cluster_id",
        F.when(F.col("conv_id") == one.first()["conv_id"], F.lit("moved")).otherwise(
            F.col("cluster_id")
        ),
    )
    yield "cycle ran every operation", bench.attempted == 3 and bench.failed == 0
    yield "gate assigned_once passes", not once(a)
    yield "gate assigned_once returns the assignment digest", (
        gates.assigned_once(a, digest)[1] == fresh_digest)
    yield "gate assigned_once fails on a duplicate", bool(once(a.unionByName(one)))
    yield "gate assigned_once fails on a missing row", bool(once(a.exceptAll(one)))
    yield "gate assigned_once fails on a duplicate standing in for a missing row", bool(
        once(a.exceptAll(one).unionByName(a.exceptAll(one).limit(1))))
    yield "gate assigned_once fails on a null cluster", bool(
        once(a.withColumn("cluster_id", F.lit(None).cast("string"))))
    yield "gate assigned_once fails on a foreign conversation", bool(
        once(a.withColumn("conv_id", F.concat("conv_id", F.lit("x")))))
    yield "gate same_assignments passes", not gates.same_assignments(a, fresh_digest)
    yield "gate same_assignments fails on one moved conversation", bool(
        gates.same_assignments(renamed, fresh_digest))
    yield "gate quality passes", not gates.quality(fresh.metrics)
    yield "gate quality fails below the floor", bool(
        gates.quality({**fresh.metrics, "macro_f1": gates.F1_FLOOR - 0.01}))
    yield "gate quality fails without metrics", bool(gates.quality(None))
    yield "gate streamed_once passes", not gates.streamed_once(sink, digest)
    yield "gate streamed_once fails on a dropped row", bool(
        gates.streamed_once(sink.exceptAll(sink.limit(1)), digest))
    yield "gate streamed_once fails on a replayed batch", bool(
        gates.streamed_once(sink.unionByName(sink.limit(5)), digest))

    values = layers.per_layer(bench, tracer, cores)
    values.update(layers.blocking_quality(fresh.features, bench.labels, fresh.scored_pairs))
    for name in layers.PER_LAYER:
        if name.startswith("trace.") and name != "trace.overhead_ms":
            continue  # filled from the end-to-end values by run.py
        v = values.get(name)
        yield f"layer metric {name} is finite ({v})", v is not None and math.isfinite(v)
    yield "blocking pair completeness within [0, 1]", 0 < values["blocking.pair_completeness"] <= 1
    yield "hot block took the evidence-pair route", values["blocking.reduction_ratio"] > 0


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "namedis_spark", "__init__.py")):
        print("selftest: run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    cores = run.host_env(work)
    sys.path.insert(0, run.ROOT)
    import workloads
    from spans import Tracer

    spark = run.start_session()
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    try:
        tracer = Tracer(spark)
        bench = workloads.Bench(spark, TINY, 7, work, tracer)
        bench.setup()
        tracer.install()
        try:
            bench.cycle(0)
        finally:
            tracer.uninstall()
        for problem in bench.failures:
            print(f"  operation failed: {problem}")
        for name, ok in checks(spark, bench, tracer, cores):
            failed += not ok
            print(f"{'PASS' if ok else 'FAIL'} {name}")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest: {'ok' if not failed else f'{failed} check(s) failed'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
