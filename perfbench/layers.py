"""Per-layer metrics of the traced run, assembled from its spans, the Spark
status store and, for blocking quality, the generator's labels.

Layers are the program's modules. Spans are named after the call they
wrap (see spans.Tracer.install); the side-table window of ``operators.corpus``
is the interval between the features and scored checkpoint spans of a
fresh run, and between the start of a resume and its clustering span.
"""

from __future__ import annotations

import statistics

import pyspark.sql.functions as F

from spans import jvm_peak_rss_mb

MB = 2**20

# name -> unit, in report order. BENCHMARK.json lists the same names.
PER_LAYER = {
    "session.peak_jvm_heap_mb": "MB",
    "session.peak_rss_mb": "MB",
    "features.wall_s": "s",
    "features.exec_cpu_s": "s",
    "features.shuffle_write_mb": "MB",
    "features.rows_out": "count",
    "corpus.wall_s": "s",
    "corpus.busy_frac": "ratio",
    "corpus.ambiguity_s": "s",
    "corpus.term_name_stats_s": "s",
    "corpus.prune_s": "s",
    "corpus.ambiguity_branch": "flag",
    "resume.corpus.wall_s": "s",
    "blocking.pairs_emitted": "count",
    "blocking.pair_completeness": "ratio",
    "blocking.reduction_ratio": "ratio",
    "scoring.wall_s": "s",
    "scoring.exec_cpu_s": "s",
    "scoring.busy_frac": "ratio",
    "scoring.shuffle_write_mb": "MB",
    "scoring.spill_mb": "MB",
    "scoring.edge_ratio": "ratio",
    "cluster.wall_s": "s",
    "cluster.rounds": "count",
    "cluster.jobs": "count",
    "cluster.edges_in": "count",
    "resume.cluster.wall_s": "s",
    "checkpoint.flush_s": "s",
    "checkpoint.bytes_written_mb": "MB",
    "checkpoint.rounds_written": "count",
    "evaluate.wall_s": "s",
    "streaming.wall_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms",
    "streaming.state_rows": "count",
    "trace.overhead_ms": "ms",
    "trace.fresh_s": "s",
    "trace.resume_s": "s",
    "trace.stream_s": "s",
}


def _wall(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _one(tracer, run: str, name: str) -> dict:
    found = tracer.find(run, name)
    if len(found) != 1:
        raise RuntimeError(f"expected one {name!r} span in {run}, found {len(found)}")
    return found[0]


def blocking_quality(features, labels, scored) -> dict[str, float]:
    """Pairs the blocking stage hands to scoring, judged against labels.

    Blocks of at most ``small_block_size`` conversations are scored
    exhaustively, so all their pairs are emitted; larger blocks emit the
    ``evidence_pairs`` candidates. Pair completeness is the share of true
    within-block pairs emitted; the reduction ratio is the share of all
    within-block pairs not emitted; the edge ratio is the share of emitted
    pairs that become clustering edges."""
    from namedis_spark.operators.blocking import evidence_pairs
    from namedis_spark.operators.scoring import ScoringParams, edges_above_threshold

    params = ScoringParams()
    nc2 = lambda c: F.sum(F.col(c) * (F.col(c) - 1) / 2)  # noqa: E731
    sizes = features.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    small = (F.col("n") <= params.small_block_size).cast("int")
    row = sizes.agg(nc2("n").alias("all"), F.sum(small * F.col("n") * (F.col("n") - 1) / 2).alias("small")).first()
    big_keys = sizes.where(F.col("n") > params.small_block_size).select("block_key")
    cands = evidence_pairs(
        features.join(F.broadcast(big_keys), "block_key"),
        max_evidence_df=params.max_evidence_df,
    ).select("conv_id1", "conv_id2").persist()
    n_cands = cands.count()

    ent = labels.select("conv_id", "entity_id")
    truth = (
        labels.groupBy("block_key", "entity_id").agg(F.count(F.lit(1)).alias("m"))
        .join(sizes, "block_key")
        .agg(nc2("m").alias("all"), F.sum(small * F.col("m") * (F.col("m") - 1) / 2).alias("small"))
        .first()
    )
    kept_big = (
        cands.join(ent.toDF("conv_id1", "e1"), "conv_id1")
        .join(ent.toDF("conv_id2", "e2"), "conv_id2")
        .where(F.col("e1") == F.col("e2"))
        .count()
    )
    cands.unpersist()
    emitted = float(row["small"] or 0) + n_cands
    edges = edges_above_threshold(scored, params).count()
    return {
        "blocking.pairs_emitted": emitted,
        "blocking.pair_completeness": (float(truth["small"] or 0) + kept_big) / float(truth["all"]),
        "blocking.reduction_ratio": 1.0 - emitted / float(row["all"]),
        "scoring.edge_ratio": edges / emitted,
        "cluster.edges_in": float(edges),
    }


def per_layer(bench, tracer, cores: int) -> dict[str, float]:
    """Every PER_LAYER metric of the first traced cycle."""
    out: dict[str, float] = {}
    fresh, resume, stream = "fresh-0", "resume-0", "stream-0"

    def busy(totals, wall):
        return totals["run_s"] / (wall * cores) if wall > 0 else 0.0

    feats = _one(tracer, fresh, "write_round:features")
    scored = _one(tracer, fresh, "write_round:scored")
    ft = tracer.stage_totals(feats["start"], feats["end"])
    out["features.wall_s"] = feats["end"] - feats["start"]
    out["features.exec_cpu_s"] = ft["cpu_s"]
    out["features.shuffle_write_mb"] = ft["shuffle_write"] / MB
    out["features.rows_out"] = float(feats["attrs"].get("rows", 0))

    wall = scored["start"] - feats["end"]
    out["corpus.wall_s"] = wall
    out["corpus.busy_frac"] = busy(tracer.stage_totals(feats["end"], scored["start"]), wall)
    amb = tracer.find(fresh, "corpus.ambiguity") + tracer.find(fresh, "corpus.ambiguity_distributed")
    out["corpus.ambiguity_s"] = _wall(amb)
    out["corpus.term_name_stats_s"] = _wall(tracer.find(fresh, "corpus.term_name_stats"))
    out["corpus.prune_s"] = _wall(tracer.find(fresh, "corpus.prune"))
    out["corpus.ambiguity_branch"] = float(
        any(s["attrs"].get("branch") == "driver" for s in amb)
    )

    st = tracer.stage_totals(scored["start"], scored["end"])
    wall = scored["end"] - scored["start"]
    out["scoring.wall_s"] = wall
    out["scoring.exec_cpu_s"] = st["cpu_s"]
    out["scoring.busy_frac"] = busy(st, wall)
    out["scoring.shuffle_write_mb"] = st["shuffle_write"] / MB
    out["scoring.spill_mb"] = st["spill"] / MB

    cc = [_one(tracer, fresh, "cluster.assignments_from_edges"),
          _one(tracer, fresh, "write_round:assignments")]
    out["cluster.wall_s"] = _wall(cc)
    out["cluster.rounds"] = float(len(tracer.find(fresh, "write_round:cc")))
    out["cluster.jobs"] = float(sum(tracer.jobs_between(s["start"], s["end"]) for s in cc))

    rounds = [s for s in tracer.spans if s["run"] == fresh and s["name"].startswith("write_round:")]
    out["checkpoint.flush_s"] = _wall(tracer.find(fresh, "checkpoint.flush"))
    out["checkpoint.bytes_written_mb"] = bench.first["ckpt_bytes"] / MB
    out["checkpoint.rounds_written"] = float(len(rounds))
    out["evaluate.wall_s"] = _wall(tracer.find(fresh, "evaluate.macro_micro"))

    root = _one(tracer, resume, resume)
    rcc = _one(tracer, resume, "cluster.assignments_from_edges")
    out["resume.corpus.wall_s"] = rcc["start"] - root["start"]
    out["resume.cluster.wall_s"] = _wall([rcc, _one(tracer, resume, "write_round:assignments")])

    sroot = _one(tracer, stream, stream)
    progress = bench.first["stream"].recentProgress
    batch_ms = [float(p.durationMs["triggerExecution"]) for p in progress]
    out["streaming.wall_s"] = sroot["end"] - sroot["start"]
    out["streaming.batches"] = float(len(progress))
    out["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["streaming.batch_max_ms"] = max(batch_ms, default=0.0)
    out["streaming.state_rows"] = float(
        sum(op.numRowsTotal for op in progress[-1].stateOperators) if progress else 0
    )
    out["session.peak_jvm_heap_mb"] = tracer.peak_heap_mb()
    out["session.peak_rss_mb"] = jvm_peak_rss_mb(tracer.spark)
    out["trace.overhead_ms"] = tracer.overhead_s * 1000.0
    return out
