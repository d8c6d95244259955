"""End-to-end resumable entity-resolution pipeline (SURVEY.md §7).

transcripts → features → side tables → blocking → pair scoring → edges →
connected components (checkpointed rounds) → assignments [→ evaluation].

Stage boundaries are checkpoint snapshots, mirroring EP1's staged outputs
(clust.pl:326-435: *-c1.txt / *-c2.txt per stage). ``run(resume=True)``
re-enters each stage from what is committed on disk:

* ``features``, ``scored`` and ``seed_merge`` are read from their latest
  committed round, and computed only when there is none;
* the block sizes, evidence pairs and corpus side tables only feed
  scoring, so they are built only when ``scored`` is not committed;
* connected components re-enters at its last committed ``cc`` round and
  runs no further round when that round is already the star-forest
  fixpoint (see ``connected_components``);
* ``assignments`` are always rebuilt from the CC result (one join).

Every run that does not resume an existing checkpoint writes
``manifest.json`` into the checkpoint root: the ``ScoringParams`` fields,
``ambiguity_rounds``, whether seeds were given, and a fingerprint of the
transcripts (the schema's ``simpleString()`` and the sorted
``inputFiles()``; Spark names rewritten part files with fresh UUIDs, so
the file list catches a swapped or rewritten parquet input). A resume whose
inputs differ raises ``ValueError`` naming the keys that differ, and so
does a resume onto committed rounds that have no manifest. An in-memory
input (``createDataFrame``, the synthetic generator, or any cached
DataFrame, whose plan Spark answers from the cache) lists no files, so
only its schema is fingerprinted: swapping it for another in-memory table
of the same schema is not caught.
"""

from __future__ import annotations

import dataclasses
import json
import os
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

MANIFEST = "manifest.json"
_STAGES = ("features", "scored", "seed_merge", "cc", "assignments")


@dataclass
class PipelineResult:
    features: DataFrame
    scored_pairs: DataFrame
    assignments: DataFrame
    metrics: dict | None = None


def _check_manifest(store: CheckpointStore, manifest: dict, resume: bool) -> None:
    """Refuse a resume whose inputs differ from the checkpoint's manifest;
    otherwise (re)write the manifest atomically. Driver-side file I/O only."""
    path = os.path.join(store.root, MANIFEST)
    if resume and os.path.exists(path):
        with open(path) as f:
            saved = json.load(f)
        diff = sorted(
            k for k in saved.keys() | manifest.keys() if saved.get(k) != manifest.get(k)
        )
        if diff:
            raise ValueError(
                f"resume: the inputs differ from the checkpoint's {MANIFEST} in {diff}"
            )
        return
    if resume and any(store.latest_round(name) is not None for name in _STAGES):
        raise ValueError(
            f"resume: {store.root!r} has committed rounds but no {MANIFEST}"
        )
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _committed(store: CheckpointStore, name: str, resume: bool) -> DataFrame | None:
    """The latest committed round of ``name`` when resuming, else None."""
    k = store.latest_round(name) if resume else None
    return None if k is None else store.read_round(name, k)


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
    _check_manifest(
        store,
        {
            **dataclasses.asdict(params),
            "ambiguity_rounds": ambiguity_rounds,
            "seeds": seeds is not None,
            "schema": transcripts.schema.simpleString(),
            "input_files": sorted(transcripts.inputFiles()),
        },
        resume,
    )

    # -- features (stage snapshot) ----------------------------------------
    # n_convs rides the materialization action as an Observation (fresh
    # path) or comes from the committed snapshot's parquet footers (resume,
    # only when scoring needs it) — either way it costs zero Spark jobs.
    n_convs = None
    features = _committed(store, "features", resume)
    if features is not None:
        features = features.persist()
    else:
        features, (n_convs, _) = store.write_round(
            "features",
            0,
            conversation_features(transcripts),
            lineage={"op": "features"},
            stat_cols=["conv_id"],
        )

    scored = _committed(store, "scored", resume)
    if scored is None:
        if n_convs is None:  # resumed features: count from the footers
            k = store.latest_round("features")
            n_convs = store.round_row_count("features", k)
        # -- corpus side tables (EP2 analog) ------------------------------
        # Built only here: nothing reads them once scored is committed.
        # (features is already materialized + cached by the eager
        # localCheckpoint inside write_round — a persist().count() here
        # would store and scan a second copy.)
        # Candidate pairs are only *materialized* for big blocks (evidence
        # joins); small blocks are scored pair-table-free by
        # score_blocks_exhaustive below. Evidence-pair generation depends
        # only on features, not the side tables — run it concurrently.
        sizes = (
            features.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
        )
        big_keys = sizes.where(F.col("n") > params.small_block_size).select(
            "block_key"
        )
        big_feats = features.join(F.broadcast(big_keys), "block_key")
        pairs = evidence_pairs(
            big_feats, max_evidence_df=params.max_evidence_df
        ).persist()
        with ThreadPoolExecutor(max_workers=1) as ex:
            f_pairs = ex.submit(pairs.count)
            side = corpus.side_tables(features, n_convs, sizes, params, ambiguity_rounds)
            f_pairs.result()

        # -- blocking + scoring (stage snapshot) --------------------------
        # Two disjoint paths by block size (see score_blocks_exhaustive /
        # evidence_pairs): small blocks score all pairs in-worker with no
        # pair table; big (hot) blocks score only evidence-driven candidates.
        prep = prepare_scoring(spark, features, side)
        # The clustering path reads ONLY (stage1_mergeable, score) — the
        # 12 diagnostic component columns are ~4/5 of the row and are only
        # read by verification queries, which invoke the scorers directly.
        # Keep them off the scored-pair checkpoint (union + localCheckpoint
        # + parquet snapshot): at 10^12 turns the scored-pair table is the
        # pipeline's biggest materialized intermediate.
        score_cols = ["stage1_mergeable", "score"]
        small_scored = score_blocks_exhaustive(spark, prep, side, sizes, params)
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
            "scored", 0, scored, lineage={"op": "blocking+scoring"}
        )
        # scored is checkpointed (plan truncated) — the block-size and
        # evidence-pair caches are fully consumed; release them so repeated
        # run() calls in one session (the bench loop) keep storage memory
        # flat.
        sizes.unpersist()
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
        # inspection and re-entry. Plan unchanged when seeds is None.
        seed_merged = _committed(store, "seed_merge", resume)
        if seed_merged is None:
            from namedis_spark.operators.seedmerge import (
                seed_merge_sharing_coauthor,
            )

            ion_assign = features.select(
                "conv_id", F.col("conv_id").alias("cluster_id")
            )
            seed_merged = store.write_round(
                "seed_merge",
                0,
                seed_merge_sharing_coauthor(features, ion_assign, seeds),
                lineage={"op": "seed_merge"},
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
        "assignments", 0, assignments, lineage={"op": "cc"}
    )

    metrics = None
    if labels is not None:
        prf = pairwise_prf(assignments, labels)
        metrics = macro_micro(prf)

    store.flush()  # join async lineage/metrics writes

    return PipelineResult(
        features=features, scored_pairs=scored, assignments=assignments, metrics=metrics
    )
