#!/usr/bin/env python3
"""Host-fit benchmark of namedis_spark: the resumable linkage pipeline end to
end, and layer by layer in a separate traced run.

    python3 perfbench/run.py --workload pipeline_small_blocks --seed 1 \\
        --seconds 15 --trace 0

``--workload all`` runs every workload, one child process each. Run it from
the root of a checkout: it imports ``namedis_spark`` from there and keeps
its scratch files under ``.perfbench_work/`` and its span files under
``.perfbench_out/``. The Spark session is fitted to the host: all cores,
a driver heap sized from ``/proc/meminfo``, local dirs and temp files
inside the checkout, and a ``PYTHONPATH`` that lets Python workers import
the package.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
The exit code is 0 only when every operation ran and passed its gates.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 150  # no new cycle starts past this; every run ends within 180 s
POST_S = {0: 10, 1: 30}  # seconds kept for gates, layers and shutdown


def host_env(work: str) -> int:
    """Fit the session to this host through the program's own environment
    knobs; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # the driver JVM holds every executor thread in local mode; leave the
    # rest of memory to the Python workers and the page cache
    heap_gb = max(1, min(32, int(mem_kb * 0.4 / 2**20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # no hsperfdata files in the system temp dir, for the launcher
            # JVM or the driver JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_GRAFT_JAVA_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    return cpus


def start_session():
    from namedis_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store for the trace
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_one(args) -> int:
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    cores = host_env(work)
    sys.path.insert(0, ROOT)
    import spans
    import workloads

    shape = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
        bench = workloads.Bench(spark, shape, args.seed, work, tracer)
        setup_s = session_s + bench.setup()
        bench.setup_phases["session_s"] = session_s
        if tracer is not None:
            tracer.install()
        deadline = t_start + RUN_LIMIT_S - POST_S[args.trace]
        cycles = bench.loop(args.seconds, deadline)
        if tracer is not None:
            tracer.uninstall()

        e2e = bench.end_to_end()
        e2e["setup_s"] = (setup_s, "s", workloads.SETUP_REPEATS)
        bench.peak_rss_mb = spans.jvm_peak_rss_mb(spark)
        if tracer is None:
            metrics = {k: (v, u) for k, (v, u, _n) in e2e.items()}
        elif bench.failed:
            metrics = {}  # the layers need every operation of the traced cycle
        else:
            metrics = trace_metrics(bench, tracer, cores, e2e, args)
        report(args, cores, cycles, bench, e2e, metrics)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(f"# run wall {time.perf_counter() - t_start:.1f} s")

    correct = bench.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


def trace_metrics(bench, tracer, cores, e2e, args) -> dict:
    import layers

    first = bench.first["fresh"]
    values = layers.per_layer(bench, tracer, cores)
    values.update(layers.blocking_quality(first.features, bench.labels, first.scored_pairs))
    for name in ("fresh_s", "resume_s", "stream_s"):
        values[f"trace.{name}"] = e2e[name][0]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    return {k: (values[k], u) for k, u in layers.PER_LAYER.items()}


def report(args, cores, cycles, bench, e2e, metrics) -> None:
    """Human-readable summary; the JSON result line follows it."""
    import gates

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"local[{cores}], {cycles} cycle(s), {bench.n_turns} turns, "
          f"{bench.n_convs} conversations")
    print("# set-up phases: " + ", ".join(
        f"{k} {v:.2f}" for k, v in sorted(bench.setup_phases.items())))
    print("# operations: " + ", ".join(
        f"{k} [{', '.join(f'{x:.2f}' for x in v)}] s" for k, v in bench.samples.items() if v))
    for name, (value, unit, n) in sorted(e2e.items()):
        print(f"#   {name:<20} {value:>14.4f} {unit:<8} n={n}")
    if "fresh_s" in e2e:
        print(f"#   fresh rate {bench.n_turns / e2e['fresh_s'][0]:.1f} turns/s")
    if "stream_s" in e2e:
        print(f"#   stream rate {bench.n_convs / e2e['stream_s'][0]:.1f} conversations/s")
    print(f"#   driver JVM peak RSS {bench.peak_rss_mb:.0f} MB")
    if bench.f1:
        met = min(bench.f1) >= gates.F1_TARGET
        print(f"#   paper target macro_f1 >= {gates.F1_TARGET}: {'met' if met else 'missed'}")
    if args.trace:
        for name, (value, unit) in metrics.items():
            print(f"#   {name:<28} {value:>14.4f} {unit}")
    for problem in bench.failures:
        print(f"# FAILED {problem}")


def run_all(args) -> int:
    """Every workload in its own process; one combined result line."""
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        code = code or proc.returncode
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            sys.stderr.write(proc.stderr[-4000:])
            merged["correct"] = False
            merged["failed"] += 1
            merged["attempted"] += 1
            code = code or 1
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "namedis_spark", "__init__.py")):
        print(f"perfbench: no namedis_spark package in {ROOT}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of "
                f"{', '.join(workloads.WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
