"""Workloads of the host-fit benchmark and the closed loop that runs them.

Each workload is a synthetic transcript table made by
``namedis_spark.datagen.generate_transcripts`` from the benchmark seed.
One client runs a closed loop: each operation starts only after the
previous one has finished. One cycle of the loop is these operations:

* ``fresh``  -- ``pipeline.run`` with labels into a new checkpoint
  directory, up to materialized assignments and pairwise P/R/F1;
* ``resume`` -- ``pipeline.run(resume=True)`` on that completed checkpoint;
* ``stream`` -- traced runs only: ``start_incremental_linkage`` over
  feature drops written, untimed, from the first fresh run's features,
  run to completion (``availableNow``).

Cycles repeat until the operations have taken at least ``--seconds``.
Every output is checked by a gate after its operation, outside the timed
interval; a failed gate counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gates

# small_block_size=256 routes every block of the first workload through
# score_blocks_exhaustive. The second has a replay of the reference
# 'wei wang' block and one generic hot block (800+ conversations each),
# scored through evidence_pairs and score_pairs_grouped, next to six small
# blocks; two big blocks average out how much the replay's evidence pairs
# vary from seed to seed. Each operation runs in a fresh session and is
# dominated by per-job latency and warm-up, not input size; the sizes keep
# a whole run near one minute.
WORKLOADS = {
    "pipeline_small_blocks": {"n_blocks": 16, "hot_blocks": 0, "ref_blocks": 0},
    "pipeline_hot_blocks": {"n_blocks": 8, "hot_blocks": 1, "ref_blocks": 1},
}

SETUP_REPEATS = 3  # input preparations per run; setup_s takes their median
DROP_FILES = 8  # feature drops the streaming source reads, 4 per micro-batch


class Bench:
    def __init__(self, spark, shape: dict, seed: int, work: str, tracer=None):
        self.spark = spark
        self.shape = shape
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {"fresh": [], "resume": [], "stream": []}
        self.f1: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.first: dict = {}  # outputs of cycle 0, kept for the traced run's layers
        self.results: list = []  # PipelineResults to release after the cycle
        self.drops: str | None = None  # streaming source directory
        self.transcripts = self.labels = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        """Generate and cache the input SETUP_REPEATS times; returns the
        median seconds."""
        from namedis_spark.datagen import generate_transcripts

        times = []
        for _ in range(SETUP_REPEATS):
            if self.transcripts is not None:
                self.transcripts.unpersist()
                self.labels.unpersist()
            t0 = time.perf_counter()
            t, l = generate_transcripts(self.spark, seed=self.seed, **self.shape)
            self.transcripts, self.labels = t.cache(), l.cache()
            self.n_turns = self.transcripts.count()
            self.labels.count()
            times.append(time.perf_counter() - t0)
        self.conv_digest = gates.digest(self.labels, ["conv_id"])
        self.n_convs = self.conv_digest[0]
        self.setup_phases = {"input_prep_s": statistics.median(times)}
        return statistics.median(times)

    # -- operations -----------------------------------------------------------

    def _timed(self, kind: str, cycle: int, fn):
        """Run one operation; returns (seconds, output) or (None, None) when
        it raised."""
        run_id = f"{kind}-{cycle}"
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            if self.tracer is not None:
                with self.tracer.operation(run_id):
                    out = fn()
            else:
                out = fn()
            dt = time.perf_counter() - t0
        except Exception as e:  # a failed operation is counted, the loop goes on
            self.failed += 1
            self.failures.append(f"{run_id}: {type(e).__name__}: {e}")
            return None, None
        if self.tracer is not None:
            self.tracer.harvest()
        return dt, out

    def _gate(self, run_id: str, problems: list[str]) -> bool:
        if problems:
            self.failed += 1
            self.failures.extend(f"{run_id}: {p}" for p in problems)
            return False
        return True

    def cycle(self, k: int) -> float:
        """One fresh -> resume (-> stream) cycle; returns its timed seconds."""
        from namedis_spark import pipeline

        spent = 0.0
        ckpt = os.path.join(self.work, f"ckpt-{k}")

        dt, res = self._timed(
            "fresh",
            k,
            lambda: pipeline.run(self.spark, self.transcripts, ckpt, labels=self.labels),
        )
        fresh_digest = None
        if res is not None:
            spent += dt
            problems, fresh_digest = gates.assigned_once(res.assignments, self.conv_digest)
            ok = self._gate(f"fresh-{k}", problems + gates.quality(res.metrics))
            if ok:
                self.samples["fresh"].append(dt)
                self.f1.append(res.metrics["macro_f1"])
            self.results.append(res)
            if k == 0:
                self.first["fresh"] = res
                self.first["ckpt_bytes"] = _dir_bytes(ckpt)

        if fresh_digest is not None:
            dt, again = self._timed(
                "resume",
                k,
                lambda: pipeline.run(self.spark, self.transcripts, ckpt, resume=True),
            )
            if again is not None:
                spent += dt
                if self._gate(
                    f"resume-{k}", gates.same_assignments(again.assignments, fresh_digest)
                ):
                    self.samples["resume"].append(dt)
                self.results.append(again)
        else:
            self.attempted += 1  # resume has nothing to resume: counted as failed
            self._gate(f"resume-{k}", ["no fresh checkpoint to resume"])

        if self.tracer is not None:
            spent += self.stream(k, res)
        return spent

    def stream(self, k: int, fresh) -> float:
        """The streaming operation. Its feature drops are written once per
        run, untimed, from the first fresh run's features."""
        from namedis_spark.operators.features import conversation_features
        from namedis_spark.streaming.linkage import start_incremental_linkage

        if self.drops is None:
            features = fresh.features if fresh is not None else conversation_features(
                self.transcripts
            )
            self.drops = os.path.join(self.work, "drops")
            features.repartition(DROP_FILES).write.parquet(self.drops)
        sdir = os.path.join(self.work, f"stream-{k}")

        def run_query():
            q = start_incremental_linkage(
                self.spark, self.drops, f"{sdir}/sink", f"{sdir}/ckpt", available_now=True
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        dt, q = self._timed("stream", k, run_query)
        if q is None:
            return 0.0
        if k == 0:
            self.first["stream"] = q
        sink = self.spark.read.parquet(f"{sdir}/sink")
        if self._gate(f"stream-{k}", gates.streamed_once(sink, self.conv_digest)):
            self.samples["stream"].append(dt)
        return dt

    def release_cycle(self, k: int) -> None:
        while self.results:
            _release(self.results.pop())
        for d in (f"ckpt-{k}", f"stream-{k}"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def loop(self, seconds: float, deadline: float) -> int:
        """Closed loop, one client: whole cycles until the operations have
        taken ``seconds`` (at least one cycle), or until starting another
        cycle could pass ``deadline`` (a perf_counter value)."""
        spent, k, longest = 0.0, 0, 0.0
        while k == 0 or (spent < seconds and time.perf_counter() + longest < deadline):
            t0 = time.perf_counter()
            spent += self.cycle(k)
            longest = max(longest, time.perf_counter() - t0)
            if self.tracer is None:
                self.release_cycle(k)
            k += 1
        return k

    # -- metrics ------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        """name -> (value, unit, samples) for every metric with samples.
        The operations are dominated by per-job latency, not input size, so
        wall times at the workload's input size are reported rather than
        rates: a rate would carry the seed's input size into its spread."""
        out = {}
        s = self.samples
        for kind in ("fresh", "resume", "stream"):
            if s[kind]:
                out[f"{kind}_s"] = (statistics.median(s[kind]), "s", len(s[kind]))
        if self.f1:
            out["macro_f1"] = (statistics.median(self.f1), "ratio", len(self.f1))
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _release(res) -> None:
    """Unpersist what a PipelineResult holds, so later cycles start from the
    same storage state."""
    for df in (res.features, res.scored_pairs, res.assignments):
        df.unpersist()
