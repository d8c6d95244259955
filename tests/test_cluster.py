"""Connected-components (large-star/small-star) correctness, determinism,
and checkpoint/resume semantics."""

from __future__ import annotations

import shutil

import pytest

from namedis_spark.operators.cluster import connected_components
from namedis_spark.sources.checkpoint import CheckpointStore


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components(spark, df, **kw)
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    for root in set(got.values()):
        got.setdefault(root, root)  # roots are implicit (see assignments_from_edges)
    return got


def test_cc_basic_chain(spark):
    # a-b-c chain plus isolated pair d-e
    got = _cc(spark, [("b", "a"), ("b", "c"), ("d", "e")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["d"] == got["e"] == "d"


def test_cc_long_path_converges(spark):
    # path of 20 nodes — exercises multiple large/small-star rounds
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(19)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n00"}
    assert len(got) == 20


def test_cc_deterministic(spark):
    edges = [("x3", "x1"), ("x2", "x3"), ("x9", "x5"), ("x5", "x2"), ("z2", "z1")]
    a = _cc(spark, edges)
    b = _cc(spark, list(reversed(edges)))
    assert a == b


def test_cc_checkpoint_resume_identical(spark, tmp_path):
    """Kill-after-round-k resume: final assignment identical to an
    uninterrupted run (FIXTURES.md §5.4)."""
    edges = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(15)] + [
        ("q1", "q2"), ("q2", "q3"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")

    full_dir = str(tmp_path / "full")
    store = CheckpointStore(spark, full_dir)
    # probe_fixpoint off: the probe converges this small graph in one
    # committed round, and the kill-after-round-k scenario needs several
    full = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            spark, df, store=store, name="cc", probe_fixpoint=False
        ).collect()
    }
    rounds = store.complete_rounds("cc")
    assert len(rounds) >= 2, "expected a multi-round run"

    # simulate a kill after round 0: drop all later snapshots, resume
    for k in rounds[1:]:
        shutil.rmtree(f"{full_dir}/cc/round={k:05d}")
    assert store.latest_round("cc") == rounds[0]
    resumed = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            spark, df, store=store, name="cc", resume=True
        ).collect()
    }
    assert resumed == full


def test_cc_resume_iterates_from_non_star_round(spark, tmp_path):
    """A committed round that is not yet the fixpoint (a kill mid-CC) must
    be iterated on resume, not taken as final by the resume probe; once the
    committed round is a star forest, a further resume runs no round."""
    path = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c")], "src string, dst string"
    )
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    store.write_round("cc", 0, path)
    store.flush()

    def resume():
        out = connected_components(spark, path.limit(0), store=store, resume=True)
        return {r["node"]: r["cluster_id"] for r in out.collect()}

    assert resume() == {"b": "a", "c": "a", "d": "a"}
    rounds = store.complete_rounds("cc")
    assert len(rounds) > 1
    assert resume() == {"b": "a", "c": "a", "d": "a"}
    assert store.complete_rounds("cc") == rounds


def test_cc_metrics_lineage_written(spark, tmp_path):
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    store = CheckpointStore(spark, str(tmp_path / "m"))
    connected_components(spark, df, store=store, name="cc")
    m = store.metrics().toPandas()
    # per-partition rows with lineage for every committed round
    assert {"partition_id", "n_rows", "round", "path", "lineage", "wall_sec"} <= set(m.columns)
    assert m["round"].nunique() >= 1
    assert (m["lineage"].str.contains("large_star")).all()


def test_round_row_count_raises_on_missing_round(spark, tmp_path):
    """ADVICE r4: a non-local checkpoint root or empty round must fail
    loudly — silently returning 0 rows would corrupt n_docs/idf on
    resume (pipeline reads n_convs from the features snapshot footers)."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    with pytest.raises(FileNotFoundError, match="no parquet files"):
        store.round_row_count("features", 7)


def test_snapshot_roundtrip_and_footer_count(spark, tmp_path):
    """Round snapshots (zstd since r5) must read back identically and
    report exact footer row counts."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = spark.createDataFrame(
        [(str(i), f"t{i % 3}") for i in range(100)], "src string, dst string"
    )
    out = store.write_round("edges", 0, df, lineage={"op": "test"})
    store.flush()
    assert store.round_row_count("edges", 0) == 100
    assert sorted(r["src"] for r in out.collect()) == sorted(
        r["src"] for r in df.collect()
    )
