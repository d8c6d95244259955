"""Span tracing for the traced benchmark run (``--trace 1``).

Spans are recorded by rebinding public entry points of the program from
this file; no program file is edited. Each span records its name, start,
end, parent span and the run id of the closed-loop operation it belongs
to. Spans are kept in memory and written out when the run ends, with
their self time (duration minus the part covered by child spans).

Executor CPU, run time, shuffle and spill come from the Spark status
store. The side-table jobs run on pool threads that do not inherit job
groups, so a stage is attributed to every span whose interval contains
the stage's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (``VmHWM``) of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stages: dict[tuple[int, int], dict] = {}
        self.jobs: dict[int, float] = {}  # job id -> submission time (s)
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._op: dict | None = None

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None):
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": parent["run"] if parent else run,
            "attrs": {},
        }
        stack.append(rec)
        setup_s = time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:  # spans also close on the pipeline's pool threads
                self.spans.append(rec)
                self.overhead_s += setup_s + time.perf_counter() - t1

    @contextlib.contextmanager
    def operation(self, run_id: str):
        """Root span of one closed-loop operation; spans opened on pool
        threads (which have no span stack of their own) hang under it."""
        with self.span(run_id, run=run_id) as rec:
            self._op = rec
            try:
                yield rec
            finally:
                self._op = None

    # -- rebinding ----------------------------------------------------------

    def _rebind(self, owner, attr: str, name, on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from namedis_spark import pipeline
        from namedis_spark.operators import corpus
        from namedis_spark.sources.checkpoint import CheckpointStore

        def round_name(_store, name, k, *a, **kw):
            return f"write_round:{name}"

        def round_rows(rec, out):
            if isinstance(out, tuple):
                rec["attrs"]["rows"] = out[1][0]

        def branch(rec, out):
            rec["attrs"]["branch"] = "driver" if out is not None else "distributed"

        self._rebind(CheckpointStore, "write_round", round_name, round_rows)
        self._rebind(CheckpointStore, "flush", "checkpoint.flush")
        # pipeline reaches these through its own module attributes
        self._rebind(pipeline, "assignments_from_edges", "cluster.assignments_from_edges")
        self._rebind(pipeline, "macro_micro", "evaluate.macro_micro")
        # ... and the side-table builders through the corpus module
        self._rebind(corpus, "key_ambiguity_pdf_bounded", "corpus.ambiguity", branch)
        self._rebind(corpus, "key_ambiguity", "corpus.ambiguity_distributed")
        self._rebind(corpus, "term_and_name_stats", "corpus.term_name_stats")
        self._rebind(corpus, "prune_evidence_tables", "corpus.prune")
        self._rebind(corpus, "prune_evidence_tables_df", "corpus.prune")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark status store ---------------------------------------------------

    def harvest(self) -> None:
        """Copy stage and job metrics out of the status store. Called after
        each operation, outside its timed interval."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self.stages or s.submissionTime().isEmpty():
                continue
            if s.completionTime().isEmpty():
                continue  # still running; picked up by a later harvest
            self.stages[key] = {
                "submit": s.submissionTime().get().getTime() / 1000.0,
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() not in self.jobs and not j.submissionTime().isEmpty():
                self.jobs[j.jobId()] = j.submissionTime().get().getTime() / 1000.0

    def peak_heap_mb(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        ) / 2**20

    # -- queries over the record ----------------------------------------------

    def find(self, run: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run and s["name"] == name]

    def stage_totals(self, start: float, end: float) -> dict:
        out = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write": 0, "spill": 0}
        for st in self.stages.values():
            if start <= st["submit"] <= end:
                for k in out:
                    out[k] += st[k]
        return out

    def jobs_between(self, start: float, end: float) -> int:
        return sum(1 for t in self.jobs.values() if start <= t <= end)

    def dump(self, path: str) -> None:
        """Write every span with its self time."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "wall_s": s["end"] - s["start"],
                        "self_s": s["end"] - s["start"] - covered})
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)
