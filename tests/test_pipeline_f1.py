"""End-to-end parity gate: pairwise F1 >= 0.99 on the labeled fixture at
identical blocking keys (BASELINE.json metric), plus resume equality."""

from __future__ import annotations

import shutil

import pytest

from namedis_spark import pipeline
from namedis_spark.datagen import generate_transcripts


@pytest.fixture(scope="module")
def fixture_data(spark):
    t, l = generate_transcripts(spark, n_blocks=4, seed=42, hot_blocks=0)
    t.cache().count()
    l.cache().count()
    return t, l


def test_pipeline_f1_above_099(spark, fixture_data, tmp_path_factory):
    t, l = fixture_data
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    res = pipeline.run(spark, t, ckpt, labels=l)
    m = res.metrics
    assert m["macro_f1"] >= 0.99, m
    assert m["micro_f1"] >= 0.99, m
    assert m["macro_p"] >= 0.99, m


def test_pipeline_resume_identical_assignments(spark, fixture_data, tmp_path_factory):
    """Re-entering the pipeline from checkpoints yields byte-identical
    final clusters (FIXTURES.md §5.4)."""
    t, l = fixture_data
    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    first = pipeline.run(spark, t, ckpt, labels=None)
    a1 = sorted(map(tuple, first.assignments.collect()))

    # wipe the final assignment snapshot and resume: features/scored/cc
    # rounds are reused, result must be identical
    shutil.rmtree(f"{ckpt}/assignments", ignore_errors=True)
    second = pipeline.run(spark, t, ckpt, labels=None, resume=True)
    a2 = sorted(map(tuple, second.assignments.collect()))
    assert a1 == a2


def test_pipeline_determinism_two_runs(spark, fixture_data, tmp_path_factory):
    t, _ = fixture_data
    r1 = pipeline.run(spark, t, str(tmp_path_factory.mktemp("d1")))
    r2 = pipeline.run(spark, t, str(tmp_path_factory.mktemp("d2")))
    assert sorted(map(tuple, r1.assignments.collect())) == sorted(
        map(tuple, r2.assignments.collect())
    )


def test_pipeline_with_seeds_coclusters_seed_members(spark, fixture_data, tmp_path_factory):
    """Groundtruth-seed pull (clust.pl:946-957): convs assigned to the
    same seed cluster must land in the same final cluster regardless of
    their stage-2 scores; the seed-merge table (with the `ambiguous`
    labeling-aid flag) is snapshotted; the seedless path is unchanged."""
    import pyspark.sql.functions as F

    t, l = fixture_data
    # seeds: for each entity in the fixture, its two lowest conv_ids
    w = l.groupBy("entity_id").agg(
        F.sort_array(F.collect_list("conv_id")).alias("cs")
    )
    seeds = (
        w.where(F.size("cs") >= 2)
        .select(
            F.col("entity_id").cast("string").alias("seed_id"),
            F.explode(F.slice("cs", 1, 2)).alias("conv_id"),
        )
        .select("conv_id", "seed_id")
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_seeds"))
    res = pipeline.run(spark, t, ckpt, labels=l, seeds=seeds)

    # same-seed convs always co-clustered in the final assignment
    joined = (
        res.assignments.join(seeds, "conv_id")
        .groupBy("seed_id")
        .agg(F.countDistinct("cluster_id").alias("n"))
    )
    bad = joined.where("n > 1").count()
    assert bad == 0

    # the seed-merge snapshot exists and carries the ambiguity flag
    import glob

    snap = glob.glob(f"{ckpt}/seed_merge/round=00000/*.parquet")
    assert snap
    sm = spark.read.parquet(f"{ckpt}/seed_merge/round=00000")
    assert set(sm.columns) >= {"conv_id", "cluster_id", "is_seed", "ambiguous"}
    # seeds only help: F1 with seeds >= the seedless gate
    assert res.metrics["macro_f1"] >= 0.99


def _two_seed_input(spark):
    """Four conversations in one block, two per seed, all sharing the
    same two coauthors; returns (transcripts, seeds)."""
    import datetime

    def turns(conv, year, texts):
        ts = datetime.datetime(year, 6, 1)
        rows = [(conv, 0, "Wei Wang", texts[0], None, ts)]
        for i, co in enumerate(["Xia Chen", "Yan Li"]):
            rows.append((conv, i + 1, co, texts[(i + 1) % len(texts)], None, ts))
        return rows

    rows = []
    rows += turns("c1", 2000, ["alpha retrieval corpus", "alpha ranking"])
    rows += turns("c2", 2000, ["alpha retrieval corpus", "alpha ranking"])
    rows += turns("c3", 2020, ["zeta robotics actuator", "zeta gripper"])
    rows += turns("c4", 2020, ["zeta robotics actuator", "zeta gripper"])
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    seeds = spark.createDataFrame(
        [("c1", "S1"), ("c2", "S1"), ("c3", "S2"), ("c4", "S2")],
        "conv_id string, seed_id string",
    )
    return t, seeds


def _assigned(res):
    return sorted(map(tuple, res.assignments.collect()))


def test_pipeline_seeded_distinct_seeds_stay_separate(spark, tmp_path_factory):
    """Reference seeded composition (clust.pl:946-957): stage-1 coauthor
    merging is REPLACED by seedMergeSharingCoauthor, so two DISTINCT human
    seed clusters whose conversations pairwise share >=2 coauthors must NOT
    be re-merged by a stage1-only edge; only stage-2 similarity could join
    them, and here the >6-year gap zeroes the year discount."""
    t, seeds = _two_seed_input(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_seed_sep"))
    res = pipeline.run(spark, t, ckpt, seeds=seeds)
    a = {r["conv_id"]: r["cluster_id"] for r in res.assignments.collect()}
    # same-seed convs co-clustered ...
    assert a["c1"] == a["c2"]
    assert a["c3"] == a["c4"]
    # ... but the two seeds stay separate despite sharing both coauthors
    assert a["c1"] != a["c3"]


def test_completed_resume_builds_no_side_tables(
    spark, fixture_data, tmp_path, monkeypatch
):
    """A resume onto a completed checkpoint reads the committed stages: it
    builds no side tables and commits no further CC round."""
    from namedis_spark.operators import corpus
    from namedis_spark.sources.checkpoint import CheckpointStore

    t, _ = fixture_data
    ckpt = str(tmp_path / "ckpt")
    first = pipeline.run(spark, t, ckpt)
    rounds = CheckpointStore(spark, ckpt).complete_rounds("cc")

    def no_side_tables(*a, **kw):
        raise AssertionError("side tables built on a completed resume")

    monkeypatch.setattr(corpus, "side_tables", no_side_tables)
    again = pipeline.run(spark, t, ckpt, resume=True)
    assert _assigned(again) == _assigned(first)
    assert CheckpointStore(spark, ckpt).complete_rounds("cc") == rounds


def test_seeded_resume_reads_seed_merge(spark, tmp_path, monkeypatch):
    """A seeded resume reads the committed seed_merge round instead of
    re-running the seed merge."""
    from namedis_spark.operators import seedmerge

    t, seeds = _two_seed_input(spark)
    ckpt = str(tmp_path / "ckpt")
    first = pipeline.run(spark, t, ckpt, seeds=seeds)

    def no_seed_merge(*a, **kw):
        raise AssertionError("seed merge re-run on resume")

    monkeypatch.setattr(seedmerge, "seed_merge_sharing_coauthor", no_seed_merge)
    again = pipeline.run(spark, t, ckpt, seeds=seeds, resume=True)
    assert _assigned(again) == _assigned(first)


def test_resume_refuses_mismatched_inputs(spark, tmp_path):
    """The checkpoint manifest: a resume with other parameters, seeds
    toggled or another parquet input raises ValueError naming the key; a
    matching resume goes through; committed rounds without a manifest
    raise."""
    import os

    from namedis_spark.operators.scoring import ScoringParams

    t, seeds = _two_seed_input(spark)
    for d in ("in1", "in2"):
        t.write.parquet(str(tmp_path / d))
    t1 = spark.read.parquet(str(tmp_path / "in1"))
    ckpt = str(tmp_path / "ckpt")
    first = pipeline.run(spark, t1, ckpt)
    with pytest.raises(ValueError, match="threshold"):
        pipeline.run(
            spark, t1, ckpt, params=ScoringParams(threshold=0.5), resume=True
        )
    with pytest.raises(ValueError, match="'seeds'"):
        pipeline.run(spark, t1, ckpt, seeds=seeds, resume=True)
    t2 = spark.read.parquet(str(tmp_path / "in2"))
    with pytest.raises(ValueError, match="input_files"):
        pipeline.run(spark, t2, ckpt, resume=True)
    # a new read of the same files matches
    again = pipeline.run(
        spark, spark.read.parquet(str(tmp_path / "in1")), ckpt, resume=True
    )
    assert _assigned(again) == _assigned(first)
    os.remove(os.path.join(ckpt, pipeline.MANIFEST))
    with pytest.raises(ValueError, match="no manifest.json"):
        pipeline.run(spark, t1, ckpt, resume=True)
