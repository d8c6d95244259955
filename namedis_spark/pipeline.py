"""End-to-end resumable entity-resolution pipeline (SURVEY.md §7).

transcripts → features → side tables → blocking → pair scoring → edges →
connected components (checkpointed rounds) → assignments [→ evaluation].

Stage boundaries are checkpoint snapshots; `run(resume=True)` re-enters at
the last complete stage/round, mirroring EP1's staged outputs
(clust.pl:326-435: *-c1.txt / *-c2.txt per stage).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import pyspark.sql.functions as F

from namedis_spark.operators import corpus
from namedis_spark.operators.blocking import PAIR_KEY_COLS, evidence_pairs
from namedis_spark.operators.cluster import assignments_from_edges
from namedis_spark.operators.evaluate import macro_micro, pairwise_prf
from namedis_spark.operators.features import conversation_features
from namedis_spark.operators.scoring import (
    EMIT_FLOOR_FRAC,
    ScoringParams,
    edges_above_threshold,
    prepare_scoring,
    score_blocks_exhaustive,
    score_pairs_grouped,
)
from namedis_spark.sources.checkpoint import CheckpointStore


@dataclass
class PipelineResult:
    features: DataFrame
    scored_pairs: DataFrame
    assignments: DataFrame
    metrics: dict | None = None


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    checkpoint_dir: str,
    labels: DataFrame | None = None,
    params: ScoringParams | None = None,
    resume: bool = False,
    ambiguity_rounds: int = 3,
    seeds: DataFrame | None = None,
) -> PipelineResult:
    params = params or ScoringParams()
    store = CheckpointStore(spark, checkpoint_dir)

    # -- features (stage snapshot: resumable without recompute) ----------
    # n_convs rides the materialization action as an Observation (fresh
    # path) or comes from the committed snapshot's parquet footers (resume)
    # — either way it costs zero extra Spark jobs (it used to be a separate
    # aggregation job in the side-table stage).
    if resume and store.latest_round("features") is not None:
        k = store.latest_round("features")
        features = store.read_round("features", k).persist()
        n_convs = store.round_row_count("features", k)
    else:
        features, (n_convs, _) = store.write_round(
            "features",
            0,
            conversation_features(transcripts),
            lineage={"op": "features"},
            stat_cols=["conv_id"],
            blocking=False,
        )

    # -- corpus side tables (EP2 analog) ----------------------------------
    # (features is already materialized + cached by the eager localCheckpoint
    # inside write_round — a persist().count() here would store and scan a
    # second copy.)
    # Candidate pairs are only *materialized* for big blocks (evidence
    # joins); small blocks are scored pair-table-free by
    # score_blocks_exhaustive below. Evidence-pair generation depends only
    # on features, not the side tables — run it concurrently with them.
    need_scoring = not (resume and store.latest_round("scored") is not None)
    sizes = (
        features.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    )
    big_keys = sizes.where(F.col("n") > params.small_block_size).select("block_key")
    pairs = None
    if need_scoring:
        big_feats = features.join(F.broadcast(big_keys), "block_key")
        pairs = evidence_pairs(
            big_feats, max_evidence_df=params.max_evidence_df
        ).persist()
    with ThreadPoolExecutor(max_workers=1) as ex:
        f_pairs = ex.submit(pairs.count) if pairs is not None else None
        side = corpus.side_tables(features, n_convs, sizes, params, ambiguity_rounds)
        if f_pairs is not None:
            f_pairs.result()

    # -- blocking + scoring (stage snapshot) ------------------------------
    # Two disjoint paths by block size (see score_blocks_exhaustive /
    # evidence_pairs): small blocks score all pairs in-worker with no pair
    # table; big (hot) blocks score only evidence-driven candidates.
    if not need_scoring:
        scored = store.read_round("scored", store.latest_round("scored"))
    else:
        prep = prepare_scoring(spark, features, side)
        # The clustering path reads ONLY (stage1_mergeable, score) — the 12
        # diagnostic component columns are ~4/5 of the row and are only read
        # by verification queries, which invoke the scorers directly. Keep
        # them off the scored-pair checkpoint (union + localCheckpoint +
        # parquet snapshot): at 10^12 turns the scored-pair table is the
        # pipeline's biggest materialized intermediate.
        score_cols = ["stage1_mergeable", "score"]
        small_scored = score_blocks_exhaustive(
            spark, prep, side, params, sizes=sizes
        )
        big_prep = prep.join(F.broadcast(big_keys), "block_key")
        big_scored = score_pairs_grouped(spark, pairs, big_prep, side, params)
        emit_floor = EMIT_FLOOR_FRAC * params.threshold
        big_scored = big_scored.where(
            F.col("stage1_mergeable") | (F.col("score") >= emit_floor)
        )
        scored = small_scored.select(*PAIR_KEY_COLS, *score_cols).unionByName(
            big_scored.select(*PAIR_KEY_COLS, *score_cols)
        )
        scored = store.write_round(
            "scored", 0, scored, lineage={"op": "blocking+scoring"}, blocking=False
        )
    # scored is checkpointed (plan truncated) — the block-size and evidence-
    # pair caches are fully consumed; release them so repeated run() calls
    # in one session (the bench loop) keep storage memory flat.
    sizes.unpersist()
    if pairs is not None:
        pairs.unpersist()

    # -- clustering (per-round snapshots inside) --------------------------
    if seeds is not None:
        # Groundtruth-seed pull (clust.pl:946-957): with seedClusterKeys
        # the reference SKIPS stage-1 coauthor merging —
        # seedMergeSharingCoauthor replaces it, fed with singleton per-pub
        # clusters (clust.pl:919-922 → :956) — and seeds can only merge
        # with each other through stage-2 similarity. Composition here
        # mirrors that: singleton ions enter the per-block greedy seed
        # merge; its verdict (seed pulls + the leftover
        # mergeSharingCoauthor fixpoint) enters the final closure as
        # mandatory hub edges, and the closure otherwise uses ONLY
        # score≥threshold edges (stage1-only edges are dropped, so two
        # DISTINCT human seed clusters sharing ≥2 coauthors are no longer
        # silently re-merged). seeds: (conv_id, seed_id). The merge table
        # (with its `ambiguous` labeling-aid flags) is snapshotted for
        # inspection. Plan unchanged when seeds is None.
        # Resume contract as everywhere in this store: re-entry assumes the
        # SAME inputs — toggling `seeds` between a run and its resume is the
        # same class of misuse as swapping the transcript table.
        from namedis_spark.operators.seedmerge import seed_merge_sharing_coauthor

        ion_assign = features.select(
            "conv_id", F.col("conv_id").alias("cluster_id")
        )
        seed_merged = seed_merge_sharing_coauthor(features, ion_assign, seeds)
        seed_merged = store.write_round(
            "seed_merge", 0, seed_merged, lineage={"op": "seed_merge"}, blocking=False
        )
        hubs = seed_merged.groupBy("cluster_id").agg(
            F.min("conv_id").alias("hub"), F.first("block_key").alias("block_key")
        )
        seed_edges = (
            seed_merged.join(hubs.select("cluster_id", "hub"), "cluster_id")
            .where(F.col("conv_id") != F.col("hub"))
            .select(
                "block_key",
                F.col("conv_id").alias("conv_id1"),
                F.col("hub").alias("conv_id2"),
            )
        )
        stage2_edges = scored.where(
            F.col("score") >= params.threshold
        ).select("block_key", "conv_id1", "conv_id2")
        edges = stage2_edges.unionByName(seed_edges)
    else:
        edges = edges_above_threshold(scored, params)
    assignments = assignments_from_edges(
        spark, features, edges, store=store, resume=resume
    )
    assignments = store.write_round(
        "assignments", 0, assignments, lineage={"op": "cc"}, blocking=False
    )

    metrics = None
    if labels is not None:
        prf = pairwise_prf(assignments, labels)
        metrics = macro_micro(prf)

    store.flush()  # join async lineage/metrics writes

    return PipelineResult(
        features=features, scored_pairs=scored, assignments=assignments, metrics=metrics
    )
